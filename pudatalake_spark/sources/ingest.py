"""Ingestion sources beyond parquet (SURVEY §2.1): CSV and JSON-lines.

Rows-only checks (ingest utilities have no SQL oracle): each builder
round-trips a deterministic slice of the lake through the format and
returns the read-back DataFrame, proving schema handling (explicit
schema + inference) end-to-end.

100 TB posture: ``spark.read.csv/json`` parallelizes over files and
splits; always pass an explicit schema in production - schema
inference is an extra full read of the data.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..loaders import cached, table
from ..registry import register, scope

#: Scratch root for the source, sink and stream keys: ``$PUDL_SCRATCH``,
#: else ``.scratch`` beside the imported package, so two checkouts never
#: write or delete each other's files.
SCRATCH = os.environ.get("PUDL_SCRATCH") or os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".scratch",
)


def _scratch(*parts: str) -> str:
    path = os.path.join(SCRATCH, *parts)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


CUSTOMER_SCHEMA = T.StructType(
    [
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]
)


@register("src_csv")
def src_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV round-trip with header + explicit schema on read."""
    out = _scratch("csv", "customer")
    c = table(spark, sf_dir, "customer")
    c.write.mode("overwrite").option("header", True).csv(out)
    return spark.read.csv(out, header=True, schema=CUSTOMER_SCHEMA)


@register("src_json")
def src_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines round-trip (schema inferred on read; timestamps kept
    as ISO strings for stability)."""
    out = _scratch("json", "events")
    ev = table(spark, sf_dir, "events").withColumn(
        "ts", F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
    )
    ev.write.mode("overwrite").json(out)
    return spark.read.json(out)


@register("src_orc")
def src_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip (the other columnar lake format Spark ships
    natively): same pushdown/pruning/vectorized-reader machinery as
    parquet, so a mixed parquet+ORC lake queries uniformly. Explicit
    schema on read - same production rule as CSV/JSON."""
    out = _scratch("orc", "customer")
    c = table(spark, sf_dir, "customer")
    c.write.mode("overwrite").orc(out)
    return spark.read.schema(CUSTOMER_SCHEMA).orc(out)


@register("src_text")
def src_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text round-trip - the rawest LLM-corpus landing
    format (one document per line, no schema). Write the first 200
    documents' text as plain lines, read back with ``spark.read.text``
    (one ``value`` column), and re-derive line stats. Production
    notes: text splits by line within a file, so a 100 TB corpus
    parallelizes per-split like CSV; ``wholetext=True`` (one row per
    file) is the trap to avoid - it makes each file a single
    unsplittable row."""
    out = _scratch("text", "documents")
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    # Newlines inside a doc would break line-orientation; the corpus
    # is single-line text, enforced here so the round-trip is exact.
    d.select(F.regexp_replace("text", "[\\r\\n]", " ").alias("text")).write.mode(
        "overwrite"
    ).text(out)
    lines = spark.read.text(out)
    return lines.select(
        F.length("value").alias("n_chars"),
        F.size(F.split("value", " ")).alias("n_tokens"),
    ).orderBy("n_chars", "n_tokens")


@register("src_binaryfile")
def src_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-asset ingestion via the binaryFile source: each file
    becomes (path, modificationTime, length, content binary) - the
    entry point for multimodal pipelines (images/audio land as opaque
    blobs, then flow into the q_multimodal_* struct + mapInPandas
    plumbing). Here the lake's own parquet files stand in for assets;
    only metadata + sizes are aggregated, the blobs never shuffle
    (the §2.10 rule: extract features first, move bytes never)."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(sf_dir)
    )
    return df.select(
        F.reverse(F.split(F.col("path"), "/")).getItem(0).alias("file"),
        F.col("length"),
        F.octet_length("content").alias("content_bytes"),
    ).orderBy("file")


@register("src_xml")
def src_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML round-trip (Spark 4 ships the XML source natively - the
    feeds/exports format that still dominates B2B interchange):
    write the supplier dim as <suppliers><supplier>...</supplier>
    rows, read back with an explicit rowTag + schema (the same
    no-inference production rule as CSV/JSON - inference reads the
    data twice and can drift types across files).

    Returns a checkable aggregate over the round-tripped rows so the
    rows-only gate proves values, not just row counts, survived the
    format: count + exact-cent acctbal total + distinct nations.
    """
    out = _scratch("xml", "supplier")
    s = table(spark, sf_dir, "supplier")
    (
        s.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "suppliers")
        .option("rowTag", "supplier")
        .save(out)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "supplier")
        .schema(s.schema)
        .load(out)
    )
    return back.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.round(F.col("s_acctbal") * 100).cast("long")).alias(
            "acctbal_cents"
        ),
        F.countDistinct("s_nationkey").alias("n_nations"),
    )


AVRO_CUSTOMER_SCHEMA = {
    "type": "record",
    "name": "customer",
    "fields": [
        {"name": "c_custkey", "type": "long"},
        {"name": "c_name", "type": "string"},
        {"name": "c_nationkey", "type": "int"},
        {"name": "c_acctbal", "type": "double"},
        {"name": "c_mktsegment", "type": ["null", "string"],
         "default": None},
    ],
}


@register("src_avro")
def src_avro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro object-container round-trip WITHOUT spark-avro (the jar is
    absent from this build — probed every round since r5, BASELINE.md;
    only avro core/ipc/mapred ship, which don't register a DataSource).
    The pure-stdlib codec in ``sources/avro_codec.py`` fills the gap —
    spec compliance proven bidirectionally against org.apache.avro
    1.12.1 in tests/test_avro_codec.py (reads a Java-written fixture;
    Java read our bytes at build time).

    Write path: ``mapInPandas`` workers encode each partition into ONE
    container file (deflate codec, one block per 1000 records) — bytes
    never visit the driver; the collected manifest is 4 rows of
    (path, n_rows, n_bytes). Read path: ``binaryFile`` scan +
    ``mapInPandas`` decode under an explicit Spark schema (the same
    no-inference production rule as CSV/JSON/ORC).

    Scale shape: per-FILE parallelism here (one task per container);
    a production reader splits WITHIN files on the sync-marker block
    boundaries that ``avro_codec.iter_blocks`` exposes — record-count
    and byte-size prefixes plus the 16-byte sync let a task seek into
    the middle of a 1 GB container and start on the next block, which
    is what makes Avro splittable at 100 TB. Decode is Python (the
    one non-JVM ingest path, declared in audit UDF_KEYS); at scale the
    move is decode-once-to-parquet, then query columnar.

    Value-proving aggregate (the ``src_xml`` pattern): count +
    exact-cent acctbal total + distinct nations must survive the
    format; tests/test_semantics.py pins them against parquet truth.
    """
    import shutil

    from . import avro_codec

    out = _scratch("avro", "customer")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    schema = AVRO_CUSTOMER_SCHEMA
    c = table(spark, sf_dir, "customer").select(
        [f.name for f in CUSTOMER_SCHEMA.fields]
    ).repartition(4, "c_custkey")

    def encode_part(batches):
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        recs: list[dict] = []
        for pdf in batches:
            recs.extend(pdf.to_dict("records"))
        blob = avro_codec.write_ocf(recs, schema, codec="deflate")
        path = os.path.join(out, f"part-{pid:05d}.avro")
        with open(path, "wb") as f:
            f.write(blob)
        yield pd.DataFrame(
            [{"path": path, "n_rows": len(recs), "n_bytes": len(blob)}]
        )

    manifest = c.mapInPandas(
        encode_part, "path string, n_rows long, n_bytes long"
    ).collect()  # bounded: one 3-column row per partition (4 rows)
    # Every partition must have produced a container (rows may be 0 -
    # an EMPTY table round-trips to an empty aggregate, pinned in
    # tests/test_empty_inputs.py).
    assert len(manifest) >= 1

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.avro")
        .load(out)
        .select("content")
    )

    def decode_files(batches):
        import pandas as pd

        cols = [f.name for f in CUSTOMER_SCHEMA.fields]
        for pdf in batches:
            rows: list[dict] = []
            for blob in pdf["content"]:
                _, recs = avro_codec.read_ocf(bytes(blob))
                rows.extend(recs)
            yield pd.DataFrame(rows, columns=cols)

    back = files.mapInPandas(decode_files, CUSTOMER_SCHEMA)
    return back.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).alias(
            "acctbal_cents"
        ),
        F.countDistinct("c_nationkey").alias("n_nations"),
    )


@register("src_avro_split")
def src_avro_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-file parallel Avro read: ONE container, MANY tasks — the
    100 TB half of the Avro story that src_avro's file-per-partition
    layout doesn't exercise.

    Write: the customer table is encoded into a SINGLE object
    container with 25-record blocks (6 blocks at sf0.001, 60 at
    sf0.01). Read: ``avro_codec.plan_splits`` enumerates
    (offset, count, size) per block from the header + per-block
    varints alone (payloads untouched — on a real lake this is a
    ranged read of a few KB against a multi-GB file); the splits
    become a DataFrame, are spread across 8 partitions, and each task
    seeks straight to its blocks via ``read_block_at`` with no state
    from predecessor blocks. Locally each task re-opens the same file
    (a production reader issues byte-range reads); what this key
    proves is the CONTRACT — any block decodes independently at its
    planned offset under Spark's own task distribution, out of order.

    Same value-proving aggregate as src_avro, pinned equal to parquet
    truth in tests/test_semantics.py; split-level unit tests
    (out-of-order, isolation, foreign java-written offsets) live in
    tests/test_avro_codec.py.
    """
    import shutil

    from . import avro_codec

    out = _scratch("avro", "customer_single")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, "customer.avro")
    schema = AVRO_CUSTOMER_SCHEMA
    c = table(spark, sf_dir, "customer").select(
        [f.name for f in CUSTOMER_SCHEMA.fields]
    ).coalesce(1)

    def encode_single(batches):
        import pandas as pd

        recs: list[dict] = []
        for pdf in batches:
            recs.extend(pdf.to_dict("records"))
        blob = avro_codec.write_ocf(
            recs, schema, codec="deflate", block_records=25
        )
        with open(path, "wb") as f:
            f.write(blob)
        yield pd.DataFrame([{"n_rows": len(recs), "n_bytes": len(blob)}])

    manifest = c.mapInPandas(
        encode_single, "n_rows long, n_bytes long"
    ).collect()  # bounded: exactly one 2-column row (coalesce(1))
    assert len(manifest) == 1

    # Split planning: header + block varints only (driver-light).
    with open(path, "rb") as f:
        data = f.read()
    splits = avro_codec.plan_splits(data)
    splits_df = spark.createDataFrame(
        [(path, s["offset"]) for s in splits], "path string, off long"
    ).repartition(8)

    def decode_splits(batches):
        import pandas as pd

        cols = [f.name for f in CUSTOMER_SCHEMA.fields]
        cache: dict[str, bytes] = {}
        for pdf in batches:
            rows: list[dict] = []
            for p, off in zip(pdf["path"], pdf["off"]):
                if p not in cache:  # one read per task, not per split
                    with open(p, "rb") as fh:
                        cache[p] = fh.read()
                rows.extend(
                    avro_codec.read_block_at(cache[p], int(off))
                )
            yield pd.DataFrame(rows, columns=cols)

    back = splits_df.mapInPandas(decode_splits, CUSTOMER_SCHEMA)
    return back.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).alias(
            "acctbal_cents"
        ),
        F.countDistinct("c_nationkey").alias("n_nations"),
    )


@register("src_csv_malformed")  # filesystem + reader modes -> rows-only
def src_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-CSV ingestion policy surface: the same file - 150
    good customer rows plus 3 injected corruptions (wrong column
    count, unparseable number, bare junk line) - read under Spark's
    three parser modes: PERMISSIVE (null-fill + capture the raw
    line in _corrupt_record), DROPMALFORMED (silently keep only
    clean rows), FAILFAST (probed: must raise - asserted, not
    returned). One row per mode with parsed/corrupt counts - the
    ingestion-contract decision every CSV feed forces, made
    testable (the ingest sibling of q_quality_expectations' batch
    gate: mode choice decides whether bad rows become NULLs,
    disappear, or stop the pipeline).

    Rows-only BY DESIGN (reader-mode semantics are engine surface,
    not relational algebra). Deterministic: corruption lines are
    literals appended to a deterministic export.

    Scale shape: parser mode is a per-task scan option - no
    shuffle, no driver involvement; _corrupt_record routes bad
    lines to a quarantine column scanned like any other (the
    standard dead-letter pattern at 100 TB).
    """
    out = _scratch("csv", "customer_malformed") + ".csv"
    c = table(spark, sf_dir, "customer").orderBy("c_custkey").limit(150)
    rows = [
        f"{r.c_custkey},{r.c_name},{r.c_nationkey},{r.c_acctbal},{r.c_mktsegment}"
        for r in c.collect()  # bounded: 150 rows, export fixture
    ]
    rows.insert(50, "9001,BadColumns,7")                  # too few cols
    rows.insert(100, "9002,BadNumber,XX,not_a_number,AUTOMOBILE")
    rows.append("complete junk line without commas")
    with open(out, "w") as f:
        f.write("\n".join(rows) + "\n")
    schema = (
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string, _corrupt_record string"
    )
    # Spark refuses _corrupt_record-only queries on the raw scan
    # (QUERY_ONLY_CORRUPT_RECORD_COLUMN); cache the parsed frame
    # first, exactly as the error message prescribes.
    with scope():
        permissive = cached(
            spark.read.schema(schema)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .csv(out)
        )
        perm_total = permissive.count()
        perm_corrupt = permissive.filter(
            F.col("_corrupt_record").isNotNull()
        ).count()
    # Column pruning is the trap: count() parses NO data columns, so
    # DROPMALFORMED never drops and FAILFAST never fails (probed -
    # both modes only fire for columns the plan actually reads).
    # Reference every column through an aggregate to force the parse.
    strict_schema = (
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string"
    )

    def _full_parse_count(df):
        cols = [F.count(c) for c in df.columns]
        row = df.agg(F.count("*").alias("n"), *cols).collect()[0]
        return row["n"]

    dropm = _full_parse_count(
        spark.read.schema(strict_schema)
        .option("mode", "DROPMALFORMED")
        .csv(out)
    )
    failfast_raised = 0
    try:
        _full_parse_count(
            spark.read.schema(strict_schema)
            .option("mode", "FAILFAST")
            .csv(out)
        )
    except Exception:  # Py4J wraps the executor SparkRuntimeException
        failfast_raised = 1
    return spark.createDataFrame(
        [
            ("PERMISSIVE", perm_total, perm_corrupt),
            ("DROPMALFORMED", dropm, 153 - dropm),
            ("FAILFAST", 0, failfast_raised),
        ],
        "mode string, n_rows long, n_flagged long",
    ).orderBy("mode")
