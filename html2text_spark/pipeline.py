"""Spark-native extraction pipeline: documents(doc_id, spans) -> extracted.

The per-document converter (html2text_spark.core.converter) is pure and
row-local, so the pipeline is a single narrow *projection*:

    scan -> [optional skew repartition] -> mapInPandas(convert) -> sink

No shuffle is required for correctness -- only the optional explicit
repartition to defuse large-document skew (BASELINE.json north_rule).
Catalyst prunes the scan to (doc_id, spans) automatically because the
plan is declared via the DataFrame API.

Design notes for the 10^12-document scale target:
  * documents are embarrassingly parallel; state never crosses rows;
  * Arrow batches amortize the JVM->Python boundary; documents are KB..MB,
    so batches are capped at a few hundred rows (see
    recommended_session_conf);
  * skew: a single 100 MB document in a partition of 4 KB documents
    stalls the stage tail -- salt_by_size() spreads documents uniformly
    by a full-range hash salt before the projection;
  * resume: the checkpoint module writes one manifest per hash bucket of
    doc_id and re-runs only the buckets without one; resume_filter() is a
    separate row-level anti-join against an existing output.
"""

from __future__ import annotations

import time
from typing import Iterator, Optional, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .core.config import Config
from .core.converter import convert_spans

SPAN_TYPE = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

INPUT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("spans", ArrayType(SPAN_TYPE)),
    ]
)

METRICS_TYPE = StructType(
    [
        StructField("spans", IntegerType()),
        StructField("bytes_in", LongType()),
        StructField("malformed", BooleanType()),
        StructField("ms", DoubleType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("spans", ArrayType(SPAN_TYPE)),
        StructField("metrics", METRICS_TYPE),
    ]
)


def recommended_session_conf() -> dict:
    """Session settings for the extraction workload (large string rows);
    only those that differ from Spark's defaults."""
    return {
        # smaller Arrow batches: documents are KB..MB, not tuples
        "spark.sql.execution.arrow.maxRecordsPerBatch": "512",
    }


def _convert_row_core(raw_spans, cfg: Config):
    """Pure per-row conversion: input span structs -> (span tuples, metrics).

    A malformed row (NULL spans, a NULL span, a NULL offset, conversion
    failure) must never fail the job: it yields empty output with
    metrics.malformed set (the reference raises LogicException for e.g.
    invalid base URLs -- we record it instead).  An empty spans array is
    a well-formed empty document.  Returns output spans as (kind, text,
    media_ref) tuples; ``_project`` turns them into the shipped columns.
    """
    in_spans = []
    bytes_in = 0
    t0 = time.perf_counter()
    malformed = False
    try:
        # NB: raw_spans arrives as a numpy array from Arrow -- test for
        # None, its truth value is ambiguous
        if raw_spans is None:
            raise ValueError("NULL spans")
        if len(raw_spans) > 1:
            raw_spans = sorted(raw_spans, key=lambda x: x["offset"])
        for s in raw_spans:
            if s["offset"] is None:
                raise ValueError("NULL span offset: order undefined")
            kind = s["kind"] or ""
            text = s["text"] or ""
            media = s["media_ref"] or ""
            # utf-8 byte count == len() for ASCII text; isascii() is a
            # C-speed scan, encode() additionally allocates the bytes
            if text.isascii():
                bytes_in += len(text) + len(media)
            else:
                bytes_in += len(text.encode("utf-8", "ignore")) + len(media)
            in_spans.append((kind, text, media))
        out = convert_spans(in_spans, cfg)
    except Exception:
        malformed = True
        out = []
    ms = (time.perf_counter() - t0) * 1000.0
    return out, {
        "spans": len(out),
        "bytes_in": bytes_in,
        "malformed": malformed,
        "ms": ms,
    }


#: how each shippable output column is built from one converted row
_OUTPUT_COLUMNS = {
    "spans": lambda out, metrics: [
        {"kind": k, "text": t, "media_ref": m, "offset": i}
        for i, (k, t, m) in enumerate(out)
    ],
    "metrics": lambda out, metrics: metrics,
    # the 'text' spans joined in order: exactly what markdown_col
    # computes JVM-side (convert_spans invariant 1)
    "markdown": lambda out, metrics: "".join(
        t for k, t, _m in out if k == "text"
    ),
}


def _project(
    df: DataFrame,
    cfg: Optional[Config],
    outputs: Tuple[StructField, ...],
    passthrough: tuple = (),
) -> DataFrame:
    """The extraction projection: select -> mapInPandas(_convert_row_core).

    Ships ``doc_id``, then the ``outputs`` columns (named in
    _OUTPUT_COLUMNS), then the ``passthrough`` input columns unchanged.
    ``mapInPandas`` is opaque to Catalyst, so column pruning cannot reach
    inside the Python function's output: a column that is not shipped is
    never built or Arrow-serialized.  Carrying a grouping key (e.g.
    ``lang``) through costs nothing here, whereas recovering it later
    means a corpus-x-corpus join.
    """
    cfg = cfg or Config()
    builders = [(f.name, _OUTPUT_COLUMNS[f.name]) for f in outputs]

    def batches(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            rows = [_convert_row_core(raw, cfg) for raw in pdf["spans"]]
            cols = {"doc_id": pdf["doc_id"]}
            for name, build in builders:
                cols[name] = [build(out, metrics) for out, metrics in rows]
            for c in passthrough:
                cols[c] = pdf[c]
            yield pd.DataFrame(cols)

    schema = StructType(
        [StructField("doc_id", StringType()), *outputs]
        + [df.schema[c] for c in passthrough]
    )
    return df.select("doc_id", "spans", *passthrough).mapInPandas(
        batches, schema
    )


def salt_by_size(df: DataFrame, num_partitions: int) -> DataFrame:
    """Spread documents uniformly across partitions (skew defusal).

    Large-document skew defusal (north_rule): the input's physical layout
    may cluster large documents (crawl order, source grouping);
    range-partitioning on size would make it worse by pairing the
    monsters together.  A full-range hash salt places every document
    uniformly at random, which bounds per-partition byte skew to
    O(sqrt(docs_per_partition)) regardless of the input layout and keeps
    the expected monster count equal per partition.

    NB the salt must be the *raw* 64-bit hash: pre-modding it to
    num_partitions values and hashing again would throw balls-in-bins
    (~37% of partitions empty, others 2-3x loaded).
    """
    salted = df.withColumn(
        "_salt", F.xxhash64("doc_id", F.lit(num_partitions))
    )
    return salted.repartition(num_partitions, "_salt").drop("_salt")


def spans_bytes_col(spans_col: str = "spans"):
    """Approximate document weight: total text bytes across spans."""
    return F.aggregate(
        F.transform(spans_col, lambda s: F.length(s["text"])),
        F.lit(0),
        lambda acc, x: acc + F.coalesce(x, F.lit(0)),
    )


def _routing_keys(spark, num_partitions: int) -> list:
    """Integer keys k_0..k_{n-1} with pmod(hash(k_p), n) == p.

    ``repartition(n, col)`` routes a row to pmod(hash(col), n); there is
    no public "send this row to partition p" API in the DataFrame layer.
    Probing Spark's own hash for preimages of every residue turns the
    hash partitioner into an EXACT router: emit k_p and the row lands in
    partition p, deterministically.  The probe is one tiny job (64n
    rows, driver-collects n ints) and is widened in the astronomically
    unlikely case (P ~ n*e^-64) a residue is missing.
    """
    width = 64 * num_partitions
    for _ in range(4):
        rows = (
            spark.range(0, width)
            .select(
                F.col("id").cast("int").alias("k"),
                F.pmod(
                    F.hash(F.col("id").cast("int")), F.lit(num_partitions)
                ).alias("p"),
            )
            .groupBy("p")
            .agg(F.min("k").alias("k"))
            .collect()
        )
        keys = {r["p"]: r["k"] for r in rows}
        if len(keys) == num_partitions:
            return [keys[p] for p in range(num_partitions)]
        width *= 8
    raise RuntimeError("hash preimage probe failed")  # unreachable


def salt_stratified(
    df: DataFrame, num_partitions: int, big_bytes: int = 1 << 20
) -> DataFrame:
    """Size-stratified skew defusal: spread the monster tier cyclically.

    ``salt_by_size`` places documents uniformly at random, which balances
    *expected* load but still allows two 100 MB monsters to collide in
    one partition (balls-in-bins variance) -- and one extra monster IS
    the stage tail.  This variant splits the corpus at ``big_bytes``:

    * the big tier (tiny by count) is ranked by size descending
      (row_number over a global window -- single-task, fine for a tier
      that is <<1% of rows by construction) and routed to partition
      (rank-1) mod N **exactly**, via hash-preimage routing keys (see
      _routing_keys).  Partition k therefore receives sizes ranked
      {k+1, k+1+N, k+1+2N, ...}: the classic longest-processing-time
      layout that bounds the per-partition byte spread to one monster.
      (A plain round-robin ``repartition(n)`` does NOT guarantee this:
      sortBeforeRepartition re-sorts each upstream partition by row
      bytes for retry determinism, and each upstream partition picks an
      independent random start -- two monsters can collide.)
    * the small tier takes the uniform full-range hash salt as before.

    The union concatenates both partitionings (2N narrow partitions into
    the downstream projection).
    """
    from pyspark.sql import Window

    sized = df.withColumn("_bytes", spans_bytes_col())
    keys = _routing_keys(df.sparkSession, num_partitions)
    route = F.element_at(
        F.array(*[F.lit(k) for k in keys]),
        (F.pmod(F.col("_rk") - 1, F.lit(num_partitions))).cast("int") + 1,
    )
    big = (
        sized.filter(F.col("_bytes") >= big_bytes)
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.orderBy(F.desc("_bytes"), F.asc("doc_id"))
            ),
        )
        .withColumn("_route", route)
        .repartition(num_partitions, "_route")
        .drop("_bytes", "_rk", "_route")
    )
    small = salt_by_size(
        sized.filter(F.col("_bytes") < big_bytes).drop("_bytes"),
        num_partitions,
    )
    return big.unionAll(small)


def extract(
    df: DataFrame,
    cfg: Optional[Config] = None,
    salt_partitions: Optional[int] = None,
    stratify_bytes: Optional[int] = None,
) -> DataFrame:
    """documents(doc_id, spans) -> extracted(doc_id, spans, metrics).

    ``salt_partitions`` spreads documents uniformly (hash salt);
    ``stratify_bytes`` additionally routes documents above that size
    through the monster-tier cyclic layout (see salt_stratified).
    Works on batch and streaming DataFrames alike.
    """
    if salt_partitions and stratify_bytes:
        df = salt_stratified(df, salt_partitions, stratify_bytes)
    elif salt_partitions:
        df = salt_by_size(df, salt_partitions)
    return _project(df, cfg, tuple(OUTPUT_SCHEMA.fields[1:]))


def extract_metrics_only(
    df: DataFrame,
    cfg: Optional[Config] = None,
    passthrough: tuple = (),
) -> DataFrame:
    """Output-pruned extraction twin: (doc_id, metrics, *passthrough).

    Values are exactly those of ``extract(df).select("doc_id", "metrics")``
    plus the ``passthrough`` input columns (appended with their input
    types) -- the scale-safe way to keep grouping keys: no post-hoc join
    against the corpus.  The span structs are never built or shipped.
    Unlike extract(), it does not salt: pre-salt ``df`` (salt_by_size /
    salt_stratified) when large documents may cluster.
    """
    return _project(
        df, cfg, (StructField("metrics", METRICS_TYPE),), passthrough
    )


def extract_markdown_only(
    df: DataFrame, cfg: Optional[Config] = None
) -> DataFrame:
    """Output-pruned extraction twin: (doc_id, markdown).

    Equivalent to ``text_of(extract(df))`` -- the markdown string is
    assembled in the Python worker instead of Arrow-shipping every span
    struct to the JVM and re-concatenating there.  Like
    extract_metrics_only, it does not salt ``df``.
    """
    return _project(df, cfg, (StructField("markdown", StringType()),))


def extraction_metrics(extracted: DataFrame) -> DataFrame:
    """Corpus-level metrics (north_rule: docs/sec, spans/doc, malformed rate).

    A single partial+final hash aggregation (map-side combine handled by
    Catalyst); cheap at any scale.
    """
    return extracted.agg(
        F.count("*").alias("docs"),
        F.sum("metrics.spans").alias("spans_total"),
        F.avg("metrics.spans").alias("spans_per_doc"),
        F.sum("metrics.bytes_in").alias("bytes_in_total"),
        F.avg(F.col("metrics.malformed").cast("int")).alias("malformed_rate"),
        F.sum("metrics.ms").alias("convert_ms_total"),
    )


def per_partition_metrics(extracted: DataFrame) -> DataFrame:
    """Same metrics grouped by physical partition (lineage manifests)."""
    return (
        extracted.withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id")
        .agg(
            F.count("*").alias("docs"),
            F.sum("metrics.spans").alias("spans_total"),
            F.sum("metrics.bytes_in").alias("bytes_in_total"),
            F.sum(F.col("metrics.malformed").cast("int")).alias("malformed_docs"),
            F.sum("metrics.ms").alias("convert_ms_total"),
        )
    )


def markdown_col(spans_col: str = "spans"):
    """Column expression reassembling the markdown text from a spans array
    (pure built-ins, JVM-side codegen): filter to kind='text', concat in
    offset order."""
    return F.concat_ws(
        "",
        F.transform(
            F.filter(spans_col, lambda s: s["kind"] == F.lit("text")),
            lambda s: s["text"],
        ),
    )


def text_of(extracted: DataFrame) -> DataFrame:
    """Reassemble the markdown text per document (fixture-equality view)."""
    return extracted.select("doc_id", markdown_col().alias("markdown"))
