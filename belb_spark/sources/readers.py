"""Source readers re-expressing belb's scan family (SURVEY.md §2.1).

Every belb source becomes a declarative ``spark.read`` with pushdown-capable
options where Spark has one, and a ``text`` + record-assembly plan where the
format is bespoke:

- S1 gzip TSV chunked scan            -> ``read_tsv`` (codec inferred; at
  scale: Iceberg/parquet, this is the landing adapter)
- S2 comment-skipping scan            -> ``read_tsv(comment='#')``
- S6 RRF pipe-delimited scan          -> ``read_delimited(sep='|')``
- S4 multi-line record scan (``//``-terminated Cellosaurus-style records)
  -> ``read_delimited_records`` via ``textinputformat.record.delimiter`` —
  record assembly happens in the InputFormat, so files still split across
  tasks (no whole-file reads)
- S7 blank-line-delimited block scan (PubTator-style) -> same mechanism with
  a ``\\n\\n`` delimiter
- S5 JSON-lines scan                  -> ``spark.read.json`` with explicit
  schema (no sampling pass at scale)
- S8 BioC document scan               -> ``read_bioc`` (XML via stdlib
  ElementTree, JSON via stdlib json — no spark-xml in this sandbox) parsed
  inside ``mapInPandas``: one collection file per task, flattened straight
  into the (docs, spans)-shaped passage/annotation tables the span
  operators (operators/spans.py) consume
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from belb_spark.functions.pyworker import drop_archive_finders


def read_tsv(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    header: bool = True,
    comment: str | None = None,
) -> DataFrame:
    """gzip/plain TSV scan (belb S1/S2: belb/kbs/kb.py:332-358,
    belb/kbs/ctd_diseases/ctd_diseases.py:107-130). Explicit schema avoids
    the inference pass — mandatory at scale."""
    reader = spark.read.option("sep", "\t").option("header", str(header).lower())
    if comment:
        reader = reader.option("comment", comment)
    if schema:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "false")
    return reader.csv(path)


def read_delimited(
    spark: SparkSession, path: str, sep: str, columns: list[str] | None = None
) -> DataFrame:
    """Pipe/arbitrary-delimiter scan (belb S6 RRF: belb/kbs/umls/umls.py:55-97)."""
    df = spark.read.option("sep", sep).option("header", "false").csv(path)
    if columns:
        for i, c in enumerate(columns):
            df = df.withColumnRenamed(f"_c{i}", c)
        df = df.select(*columns)
    return df


def read_delimited_records(
    spark: SparkSession, path: str, record_delimiter: str
) -> DataFrame:
    """Multi-line record scan (belb S4 Cellosaurus ``//``-terminated records,
    belb/kbs/cellosaurus/cellosaurus.py:124-147; S7 PubTator blank-line
    blocks, belb/corpora/ncbi_disease/ncbi_disease.py:91-112).

    Uses the Hadoop TextInputFormat record delimiter, so record assembly is
    IO-layer work and large files still split across tasks. Returns one row
    per record in column ``record``."""
    conf = {"textinputformat.record.delimiter": record_delimiter}
    rdd = spark.sparkContext.newAPIHadoopFile(
        path,
        "org.apache.hadoop.mapreduce.lib.input.TextInputFormat",
        "org.apache.hadoop.io.LongWritable",
        "org.apache.hadoop.io.Text",
        conf=conf,
    ).map(lambda kv: (kv[1],))
    df = spark.createDataFrame(rdd, "record string")
    return df.filter(F.trim("record") != "")


def parse_kv_records(records: DataFrame, kv_sep: str = r"\s+") -> DataFrame:
    """Key-value line parsing inside multi-line records (Cellosaurus-style
    ``ID   value`` lines): record -> map<key, array<values>>. Pure JVM.

    The record id is assigned BEFORE the line explode — inside a projection
    that also contains a generator, ``monotonically_increasing_id`` runs per
    OUTPUT row, silently keying every line as its own record (caught by the
    src_kv_records oracle row, r3)."""
    lines = (
        records.withColumn("rid", F.monotonically_increasing_id())
        .select("rid", F.explode(F.split("record", "\n")).alias("line"))
        .filter(F.trim("line") != "")
    )
    kv = lines.select(
        "rid",
        F.regexp_extract("line", r"^(\S+)", 1).alias("k"),
        F.trim(F.regexp_replace("line", r"^\S+\s*", "")).alias("v"),
    )
    return kv.groupBy("rid", "k").agg(F.collect_list("v").alias("vals"))


def read_tar_members(
    spark: SparkSession, path: str, member_suffix: str = ""
) -> DataFrame:
    """Tar-member stream (belb S3 — PubTator ships as member files inside a
    tar.gz, belb/corpora/pubtator.py-style ingestion): one row per member
    file, decoded as UTF-8 text. Archives are read whole per task
    (``binaryFile`` source + ``mapInPandas`` + stdlib tarfile — compression
    inferred from the archive), so the unit of parallelism is the archive:
    shard big corpora into many tars, which is how they ship anyway.
    Output: (archive, member, text)."""

    def parse(iterator):
        drop_archive_finders()
        import io
        import tarfile

        import pandas as pd

        for pdf in iterator:
            rows = []
            for apath, content in zip(pdf["path"], pdf["content"]):
                with tarfile.open(fileobj=io.BytesIO(content)) as tf:
                    for m in tf.getmembers():
                        if not m.isfile() or not m.name.endswith(member_suffix):
                            continue
                        f = tf.extractfile(m)
                        rows.append(
                            (apath, m.name, f.read().decode("utf-8") if f else "")
                        )
            yield pd.DataFrame(rows, columns=["archive", "member", "text"])

    raw = spark.read.format("binaryFile").load(path)
    return raw.select("path", "content").mapInPandas(
        parse, "archive string, member string, text string"
    )


BIOC_SCHEMA = (
    "doc_id string, passage_idx long, offset long, text string, "
    "annotations array<struct<ann_id:string, start:long, end:long, "
    "text:string, entity_type:string>>"
)


def read_bioc(spark: SparkSession, path: str, fmt: str = "json") -> DataFrame:
    """BioC collection scan (belb S8 — the reference's corpus serialization,
    belb/corpora/corpus.py:171-180 write, :759-765 read via biocjson; BioC
    XML is the interchange format corpora ship in).

    One row per passage: (doc_id, passage_idx, offset, text, annotations)
    with annotation offsets kept DOCUMENT-absolute as BioC defines them
    (location offset + length). Collections are whole-file documents, so the
    unit of parallelism is the file (``wholetext`` scan + mapInPandas) —
    shard big corpora into many collection files, exactly how the reference
    writes one collection per split.
    """

    def parse(iterator):
        drop_archive_finders()
        import json as _json
        import xml.etree.ElementTree as ET

        import pandas as pd

        for pdf in iterator:
            rows = []
            for content in pdf["value"]:
                if fmt == "xml":
                    root = ET.fromstring(content)
                    for doc in root.iter("document"):
                        doc_id = doc.findtext("id")
                        for pi, p in enumerate(doc.iter("passage")):
                            anns = []
                            for a in p.iter("annotation"):
                                loc = a.find("location")
                                start = int(loc.get("offset"))
                                length = int(loc.get("length"))
                                etype = None
                                for inf in a.iter("infon"):
                                    if inf.get("key") == "type":
                                        etype = inf.text
                                anns.append(
                                    {
                                        "ann_id": a.get("id"),
                                        "start": start,
                                        "end": start + length,
                                        "text": a.findtext("text"),
                                        "entity_type": etype,
                                    }
                                )
                            rows.append(
                                (
                                    doc_id,
                                    pi,
                                    int(p.findtext("offset") or 0),
                                    p.findtext("text") or "",
                                    anns,
                                )
                            )
                else:
                    coll = _json.loads(content)
                    for doc in coll.get("documents", []):
                        for pi, p in enumerate(doc.get("passages", [])):
                            anns = []
                            for a in p.get("annotations", []):
                                loc = a["locations"][0]
                                anns.append(
                                    {
                                        "ann_id": str(a.get("id")),
                                        "start": int(loc["offset"]),
                                        "end": int(loc["offset"]) + int(loc["length"]),
                                        "text": a.get("text"),
                                        "entity_type": (a.get("infons") or {}).get("type"),
                                    }
                                )
                            rows.append(
                                (
                                    str(doc.get("id")),
                                    pi,
                                    int(p.get("offset", 0)),
                                    p.get("text") or "",
                                    anns,
                                )
                            )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "passage_idx", "offset", "text", "annotations"],
            )

    raw = spark.read.text(path, wholetext=True)
    return raw.mapInPandas(parse, BIOC_SCHEMA)


def bioc_to_doc_span_tables(passages: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Flatten read_bioc output into the (docs, spans) pair the span
    operators consume, with passage-LOCAL char offsets (start - offset) —
    belb's Annotation.start - Passage.offset convention."""
    docs = passages.select(
        F.concat_ws("#", "doc_id", F.col("passage_idx").cast("string")).alias("doc_id"),
        "text",
    )
    spans = passages.select(
        F.concat_ws("#", "doc_id", F.col("passage_idx").cast("string")).alias("doc_id"),
        F.col("offset").alias("_poff"),
        F.posexplode("annotations").alias("_i", "a"),
    ).select(
        "doc_id",
        F.col("_i").cast("long").alias("span_id"),
        (F.col("a.start") - F.col("_poff")).alias("start"),
        (F.col("a.end") - F.col("_poff")).alias("end"),
        F.col("a.text").alias("span_text"),
        F.col("a.entity_type").alias("entity_type"),
    )
    return docs, spans


def read_jsonl(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame:
    """JSON-lines scan (belb S5 dbSNP: belb/kbs/dbsnp/dbsnp.py:150-162);
    explicit schema skips Spark's sampling inference pass."""
    reader = spark.read
    if schema:
        reader = reader.schema(schema)
    return reader.json(path)
