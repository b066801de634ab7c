"""Output oracle: per-document span-sequence hashes and their check.

The hash covers (kind, text, media_ref, order) of every output span.  The
expected side calls ``core.converter.convert_spans`` directly on the
generated input, in worker processes outside any timed region; the
observed side is computed by Spark built-ins on the program's output, so
that consuming the output in full stays cheap for the driver.
"""

from __future__ import annotations

import gc
import glob
import hashlib
import multiprocessing
import os
from typing import Dict, Iterable, List, Optional, Tuple

_SPAN_SEP = "\x1e"
_FIELD_SEP = "\x1f"


def span_hash(out_spans: Iterable[Tuple[str, str, str]]) -> str:
    """Hash of an output span sequence given as (kind, text, media_ref)."""
    payload = _SPAN_SEP.join(
        "%s%s%d:%s%s%s%s%d" % (k, _FIELD_SEP, len(t), t, _FIELD_SEP, m, _FIELD_SEP, i)
        for i, (k, t, m) in enumerate(out_spans)
    )
    return hashlib.sha256(payload.encode("utf-8")).hexdigest()


def span_hash_col(spans_col: str = "spans"):
    """The same hash as a Spark column over an output spans array."""
    from pyspark.sql import functions as F

    sep = F.lit(_FIELD_SEP)

    def piece(s):
        return F.concat(
            s["kind"], sep, F.length(s["text"]).cast("string"), F.lit(":"),
            s["text"], sep, s["media_ref"], sep, s["offset"].cast("string"),
        )

    return F.sha2(F.concat_ws(_SPAN_SEP, F.transform(spans_col, piece)), 256)


def observed(df):
    """Project extracted rows to what the check needs (doc_id, hash,
    malformed, per-doc ms) and collect them."""
    from pyspark.sql import functions as F

    return df.select(
        "doc_id",
        span_hash_col().alias("h"),
        F.col("metrics.malformed").alias("malformed"),
        F.col("metrics.ms").alias("ms"),
    ).collect()


def input_spans(raw) -> List[Tuple[str, str, str]]:
    """A well-formed input row's spans in offset order, as convert_spans
    takes them."""
    return [
        (s["kind"], s["text"], s["media_ref"])
        for s in sorted(raw, key=lambda s: s["offset"] or 0)
    ]


def _expect_slice(args) -> list:
    """Expected (doc_id, hash, malformed, bytes) for every ``parts``-th row
    of one parquet file, starting at row ``part``."""
    path, part, parts, malformed_ids = args
    import pyarrow.parquet as pq

    from html2text_spark.core.converter import convert_spans

    out = []
    for row in pq.read_table(path).to_pylist()[part::parts]:
        doc_id, raw = row["doc_id"], row["spans"]
        nbytes = sum(
            len((s["text"] or "").encode("utf-8")) + len(s["media_ref"] or "")
            for s in raw or () if s is not None
        )
        if doc_id in malformed_ids:
            out.append((doc_id, span_hash([]), True, nbytes))
            continue
        try:
            h = span_hash(convert_spans(input_spans(raw)))
        except Exception as e:  # a well-formed doc the converter rejects
            h = "convert_spans raised %s" % type(e).__name__
        out.append((doc_id, h, False, nbytes))
    return out


class Expected:
    """Expected outputs of one generated input table."""

    def __init__(self, rows: list, files: int):
        self.by_id: Dict[str, Tuple[str, bool]] = {}
        self.bytes_by_id: Dict[str, int] = {}
        self.duplicate_inputs = 0
        for doc_id, h, malformed, nbytes in rows:
            if doc_id in self.by_id:
                self.duplicate_inputs += 1
            self.by_id[doc_id] = (h, malformed)
            self.bytes_by_id[doc_id] = nbytes
        self.files = files

    @property
    def docs(self) -> int:
        return len(self.by_id)

    @property
    def total_bytes(self) -> int:
        return sum(self.bytes_by_id.values())

    def large_docs(self, threshold: int) -> int:
        return sum(1 for b in self.bytes_by_id.values() if b >= threshold)


def parquet_files(path: str) -> List[str]:
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def expect(path: str, malformed_ids: set, workers: int) -> Expected:
    """Compute expected outputs for every parquet file under ``path`` in a
    pool of spawned processes; the pool and the resource tracker it starts
    have exited on return."""
    files = parquet_files(path)
    # row-interleaved slices, so that large documents grouped in one file
    # spread over the pool
    tasks = [(f, j, workers, malformed_ids) for f in files for j in range(workers)]
    ctx = multiprocessing.get_context("spawn")
    pool = ctx.Pool(workers)
    try:
        parts = pool.map(_expect_slice, tasks, chunksize=1)
    finally:
        pool.terminate()
        pool.join()
        del pool
        _stop_resource_tracker()
    return Expected([r for part in parts for r in part], len(files))


def _stop_resource_tracker() -> None:
    """The spawned pool's semaphores start multiprocessing's resource
    tracker, a process that otherwise exits only after this one has.  Free
    the semaphores (their finalizers talk to the tracker), then stop the
    tracker and wait for it."""
    from multiprocessing import resource_tracker

    gc.collect()
    resource_tracker._resource_tracker._stop()


class Check:
    """Counts failed documents across every output checked in one run."""

    def __init__(self, expected: Expected):
        self.expected = expected
        self.attempted = 0
        self.failed = 0
        self.first_failure: Optional[str] = None

    def _fail(self, doc_id: str, why: str) -> None:
        self.failed += 1
        if self.first_failure is None:
            self.first_failure = "%s: %s" % (doc_id, why)

    def verify(self, rows) -> Dict[str, str]:
        """Check one full output; return its {doc_id: hash} map."""
        exp = self.expected.by_id
        self.attempted += len(exp)
        seen: Dict[str, str] = {}
        for r in rows:
            doc_id = r["doc_id"]
            if doc_id in seen:
                self._fail(doc_id, "duplicated in output")
                continue
            seen[doc_id] = r["h"]
            want = exp.get(doc_id)
            if want is None:
                self._fail(doc_id, "not an input document")
            elif r["h"] != want[0]:
                self._fail(doc_id, "span sequence differs from convert_spans")
            elif bool(r["malformed"]) != want[1]:
                self._fail(doc_id, "malformed=%s, generator built malformed=%s" % (r["malformed"], want[1]))
        for doc_id in exp:
            if doc_id not in seen:
                self._fail(doc_id, "missing from output")
        return seen

    def same(self, what: str, got: Dict[str, str], want: Dict[str, str]) -> None:
        """Require two outputs of the same input to be equal document by
        document (e.g. a resumed run against the fresh run)."""
        for doc_id, h in want.items():
            if got.get(doc_id) != h:
                self._fail(doc_id, what)
