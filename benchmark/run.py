"""Extraction benchmark for html2text_spark: one workload per invocation.

    python3 benchmark/run.py --workload messy_web --seed 1 --seconds 10 --trace 0

Run from the repository root.  The input is generated from ``--seed``,
written as parquet under ``.bench_work/`` and extracted on a local Spark
master with one task slot per core but one.  Every output document is
checked against ``core.converter.convert_spans`` called directly on the
same input; failed_ratio is ``failed / attempted`` of the result line.

With ``--trace 0`` the end-to-end metrics of BENCHMARK.json are measured
with tracing off; with ``--trace 1`` spans are recorded around the calls
into ``sources``, ``pipeline``, ``core.converter`` and ``checkpoint``,
written to ``.bench_work/traces/``, and the per-layer metrics are derived
from them.  One ``metric`` line per value goes to stdout, then a JSON
object {"correct", "attempted", "failed", "metrics"} as the last line.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import signal
import statistics
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")

#: a document at least this large counts as a large doc in the input facts
LARGE_DOC_BYTES = 1_000_000


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Bench:
    """One run of one workload: set-up, timed passes, checks, probes."""

    def __init__(self, args, spec: dict, run_dir: str):
        import cluster
        from probes import PeakRss, Tracer

        self.args = args
        self.spec = spec
        self.wl = spec["workloads"][args.workload]
        self.ck = spec["checkpoint"]
        self.run_dir = run_dir
        self.input = os.path.join(run_dir, "input")
        self.cores = cluster.box_cores()
        self.slots = cluster.task_slots(self.cores)
        self.cluster = cluster.Cluster(
            cluster.session_conf(run_dir, self.slots, cluster.box_ram_mb())
        )
        self.tracer = Tracer(
            "%s-seed%d-%d" % (args.workload, args.seed, os.getpid()), bool(args.trace)
        )
        self.rss = PeakRss()
        self.check = None
        self.metrics = {}
        self.main_walls = {True: [], False: []}
        self.last_rows = None

    # ------------------------------------------------------------------
    # set-up
    # ------------------------------------------------------------------
    def setup(self) -> None:
        """Cold set-up, ``setup_repeats`` times: launch a JVM and start a
        session, then materialize the input.  Every repeat but the last
        stops its JVM (outside the timed region); the last one stays up
        for the measurements."""
        import workloads

        tr = self.tracer
        setup_s, generate_s = [], []
        for i in range(self.spec["setup_repeats"]):
            if i:
                self.cluster.close()
            shutil.rmtree(self.input, ignore_errors=True)
            with tr.span("run.setup", repeat=i) as s:
                with tr.span("session.start"):
                    spark = self.cluster.start()
                with tr.span("sources.generate") as g:
                    self.malformed_ids = workloads.materialize(
                        spark, self.args.workload, self.wl, self.args.seed, self.input
                    )
            setup_s.append(s["end"] - s["start"])
            generate_s.append(g["end"] - g["start"])
        self.spark = spark
        self.rss.start(self.cluster.jvm_pid())
        self.metrics["setup_s"] = statistics.median(setup_s)
        self.metrics["sources.generate_s"] = statistics.median(generate_s)

    def expect(self) -> None:
        """Expected outputs and input facts, outside any timed region."""
        import oracle

        exp = oracle.expect(self.input, self.malformed_ids, self.cores)
        self.check = oracle.Check(exp)
        facts = {
            "docs": exp.docs,
            "files": exp.files,
            "large_docs": exp.large_docs(LARGE_DOC_BYTES),
            "malformed_docs": len(self.malformed_ids),
        }
        want = {k: self.wl[k] for k in facts}
        if facts != want or exp.duplicate_inputs:
            raise RuntimeError(
                "generated input differs from spec.json: got %s, want %s, %d duplicate doc_ids"
                % (facts, want, exp.duplicate_inputs)
            )
        self.metrics["sources.input_docs"] = exp.docs
        self.metrics["sources.input_mb"] = exp.total_bytes / 1e6
        self.metrics["sources.input_files"] = exp.files
        self.converter_probe(timed=bool(self.args.trace))

    # ------------------------------------------------------------------
    # the program's calls, as a user makes them
    # ------------------------------------------------------------------
    def read(self):
        from html2text_spark import sources

        with self.tracer.span("sources.read_documents"):
            return sources.read_documents(self.spark, self.input)

    def extract_kwargs(self) -> dict:
        if "stratify_bytes" in self.wl:
            return {
                "salt_partitions": self.slots,
                "stratify_bytes": self.wl["stratify_bytes"],
            }
        return {}

    def checkpointed(self, out: str) -> dict:
        from html2text_spark import checkpoint

        with self.tracer.span("checkpoint.run_extraction_checkpointed", out=os.path.basename(out)) as sp:
            summary = checkpoint.run_extraction_checkpointed(
                self.spark,
                self.read(),
                out,
                num_buckets=self.ck["buckets"],
                buckets_per_wave=self.ck["buckets_per_wave"],
                input_lineage=self.args.workload,
            )
            sp["counts"]["docs"] = summary["docs"]
        return summary

    def committed_rows(self, out: str):
        import oracle
        from html2text_spark import checkpoint

        return oracle.observed(checkpoint.read_extracted(self.spark, out))

    def main_pass(self, rep: int):
        """One end-to-end pass: scan, extract and consume the full output
        (every span hashed, the hashes collected).  Returns (wall, rows)."""
        import oracle
        from html2text_spark import pipeline

        with self.tracer.span("run.main_pass", rep=rep) as sp:
            with self.tracer.span("pipeline.extract", consumer="hash+collect"):
                rows = oracle.observed(
                    pipeline.extract(self.read(), **self.extract_kwargs())
                )
        return sp["end"] - sp["start"], rows

    # ------------------------------------------------------------------
    # measurements
    # ------------------------------------------------------------------
    def measure_main(self) -> None:
        """Passes until --seconds have been measured (at least
        ``min_passes``) after one warm-up pass; docs/s is the median."""
        tr = self.tracer
        traced = tr.enabled
        dps = []
        # warm-up pass, not counted: spawns and warms the Python workers
        self.check.verify(self.main_pass(-1)[1])
        rep, spent = 0, 0.0
        while spent < self.args.seconds or rep < self.spec["min_passes"]:
            # a traced run alternates traced and untraced passes so that
            # trace.overhead_share compares like with like
            tr.enabled = traced and rep % 2 == 0
            wall, rows = self.main_pass(rep)
            tr.enabled = traced
            spent += wall
            before = self.check.failed
            self.last_rows = rows
            self.check.verify(rows)
            dps.append((self.check.expected.docs - (self.check.failed - before)) / wall)
            self.main_walls[traced and rep % 2 == 0].append(wall)
            rep += 1
        self.metrics["docs_per_s"] = statistics.median(dps)
        ms = sorted(r["ms"] for r in self.last_rows)
        self.metrics["converter.doc_ms_p50"] = statistics.median(ms)
        self.metrics["converter.doc_ms_p99"] = statistics.quantiles(ms, n=100)[98]
        if traced:
            self.metrics["trace.overhead_share"] = (
                statistics.median(self.main_walls[True]) / statistics.median(self.main_walls[False]) - 1
            )

    def measure_resume(self) -> None:
        """A fresh checkpointed run, then runs that resume it after half the
        bucket manifests are removed; every resumed output must equal the
        fresh one."""
        tr = self.tracer
        out = os.path.join(self.run_dir, "checkpoint")
        with tr.span("run.checkpoint_fresh") as sp:
            self.checkpointed(out)
        fresh_s = sp["end"] - sp["start"]
        fresh = self.check.verify(self.committed_rows(out))
        manifests = os.path.join(out, "_manifests")
        per_bucket = {}
        for b in range(self.ck["buckets"]):
            with open(os.path.join(manifests, "part-%d.json" % b)) as f:
                per_bucket[b] = json.load(f)["metrics"]["docs"]
        self.checkpoint_facts(out, fresh_s)
        lost = list(range(1, self.ck["buckets"], 2))  # half the buckets
        walls, useful = [], []
        for i in range(self.spec["resume_repeats"]):
            for b in lost:
                os.remove(os.path.join(manifests, "part-%d.json" % b))
            with tr.span("run.resume", repeat=i) as sp:
                summary = self.checkpointed(out)
            walls.append(sp["end"] - sp["start"])
            useful.append(sum(per_bucket[b] for b in lost) / max(1, summary["docs"]))
            resumed = self.check.verify(self.committed_rows(out))
            self.check.same("resumed output differs from the fresh run", resumed, fresh)
        self.metrics["resume_s"] = statistics.median(walls)
        self.metrics["checkpoint.resume_useful_ratio"] = statistics.median(useful)

    def checkpoint_facts(self, out: str, fresh_s: float) -> None:
        files = bytes_ = 0
        for d, _dirs, names in os.walk(out):
            for n in names:
                bytes_ += os.path.getsize(os.path.join(d, n))
                files += n.endswith(".parquet")
        self.metrics["checkpoint.run_s"] = fresh_s
        self.metrics["checkpoint.waves"] = math.ceil(
            self.ck["buckets"] / self.ck["buckets_per_wave"]
        )
        self.metrics["checkpoint.files_written"] = files
        self.metrics["checkpoint.bytes_written"] = bytes_
        self.metrics["checkpoint.manifests_written"] = sum(
            n.startswith("part-") for n in os.listdir(os.path.join(out, "_manifests"))
        )

    def converter_probe(self, timed: bool) -> None:
        """convert_spans on a seeded sample, in this process, without Spark.
        The fast-path share is a generator self-check on every run."""
        import oracle
        import pyarrow.parquet as pq
        from html2text_spark.core import converter

        rows = []
        for f in oracle.parquet_files(self.input):
            rows.extend(
                r for r in pq.read_table(f).to_pylist()
                if r["doc_id"] not in self.malformed_ids
            )
        rows.sort(key=lambda r: r["doc_id"])
        n = min(self.spec["converter_sample_docs"], len(rows))
        sample = [
            oracle.input_spans(r["spans"])
            for r in random.Random(self.args.seed).sample(rows, n)
        ]
        frags = [t for doc in sample for k, t, _m in doc if k == "html"]
        with self.tracer.span("core.converter.fast_path_probe", fragments=len(frags)):
            fast = sum(
                converter._fast_tokenize(converter._preprocess_entities(t)) is not None
                for t in frags
            )
        share = fast / len(frags)
        cap = self.wl.get("fast_path_share_max")
        if cap is not None and share >= cap:
            raise RuntimeError(
                "%s fast_path_share %.3f is not below %.3f (spec.json)"
                % (self.args.workload, share, cap)
            )
        self.metrics["converter.fast_path_share"] = share
        if not timed:
            return
        mb = sum(len(t.encode("utf-8")) + len(m) for doc in sample for _k, t, m in doc) / 1e6
        walls = []
        for i in range(self.spec["converter_repeats"]):
            with self.tracer.span("core.converter.convert_spans", docs=n, mb=mb, repeat=i) as sp:
                for doc in sample:
                    converter.convert_spans(doc)
            walls.append(sp["end"] - sp["start"])
        self.metrics["converter.docs_per_s_1core"] = n / statistics.median(walls)
        self.metrics["converter.mb_per_s_1core"] = mb / statistics.median(walls)

    def measure_layers(self) -> None:
        """Per-layer passes, each timed by a span around one call."""
        from pyspark.sql import functions as F

        from html2text_spark import pipeline

        tr = self.tracer
        kw = self.extract_kwargs()
        noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731

        for i in range(self.spec["layer_repeats"]):
            with tr.span("sources.scan", repeat=i):
                noop(self.read().select("doc_id", "spans"))
            with tr.span("pipeline.extract", consumer="extraction_metrics", repeat=i) as sp:
                m = pipeline.extraction_metrics(pipeline.extract(self.read(), **kw)).collect()[0]
            wall = sp["end"] - sp["start"]
            sp["counts"].update(
                docs=m["docs"],
                convert_busy_s=m["convert_ms_total"] / 1000.0,
                boundary_share=1 - m["convert_ms_total"] / 1000.0 / (wall * self.slots),
                spans_per_doc=m["spans_per_doc"],
                malformed_docs=round(m["malformed_rate"] * m["docs"]),
            )
            with tr.span("pipeline.extract_metrics_only", repeat=i):
                pipeline.extraction_metrics(pipeline.extract_metrics_only(self.read())).collect()
            with tr.span("pipeline.extract_markdown_only", repeat=i):
                pipeline.extract_markdown_only(self.read()).agg(
                    F.count("*"), F.sum(F.length("markdown"))
                ).collect()
        extract_spans = [
            s for s in tr.spans
            if s["name"] == "pipeline.extract" and s["counts"].get("consumer") == "extraction_metrics"
        ]

        def count_median(key):
            return statistics.median([s["counts"][key] for s in extract_spans])

        self.metrics["sources.scan_s"] = tr.median("sources.scan")
        self.metrics["pipeline.extract_s"] = statistics.median([s["end"] - s["start"] for s in extract_spans])
        self.metrics["pipeline.metrics_only_s"] = tr.median("pipeline.extract_metrics_only")
        self.metrics["pipeline.markdown_only_s"] = tr.median("pipeline.extract_markdown_only")
        self.metrics["pipeline.convert_busy_s"] = count_median("convert_busy_s")
        self.metrics["pipeline.boundary_share"] = count_median("boundary_share")
        self.metrics["pipeline.spans_per_doc"] = count_median("spans_per_doc")
        self.metrics["pipeline.malformed_docs"] = count_median("malformed_docs")

        with tr.span("pipeline.per_partition_metrics") as sp:
            parts = pipeline.per_partition_metrics(pipeline.extract(self.read(), **kw)).collect()
        conv = [r["convert_ms_total"] for r in parts]
        sp["counts"]["partitions"] = len(conv)
        self.metrics["pipeline.partition_convert_max_over_mean"] = max(conv) / (sum(conv) / len(conv))

        self.measure_salt()
        self.measure_scaling()

        with tr.span("checkpoint.plain_write"):
            pipeline.extract(self.read()).write.mode("overwrite").parquet(
                os.path.join(self.run_dir, "plain")
            )
        self.metrics["checkpoint.overhead_ratio"] = (
            self.metrics["checkpoint.run_s"] / tr.median("checkpoint.plain_write")
        )

    def salted(self):
        from html2text_spark import pipeline

        if "stratify_bytes" in self.wl:
            return pipeline.salt_stratified(self.read(), self.slots, self.wl["stratify_bytes"])
        return pipeline.salt_by_size(self.read(), self.slots)

    def measure_salt(self) -> None:
        from pyspark.sql import functions as F

        from html2text_spark import pipeline

        tr = self.tracer
        for i in range(self.spec["layer_repeats"]):
            with tr.span("pipeline.salt", repeat=i):
                self.salted().write.format("noop").mode("overwrite").save()
        self.metrics["pipeline.salt_s"] = tr.median("pipeline.salt")
        with tr.span("pipeline.salt_balance") as sp:
            salted = self.salted()
            n_parts = salted.rdd.getNumPartitions()
            per = salted.groupBy(F.spark_partition_id().alias("p")).agg(
                F.sum(pipeline.spans_bytes_col()).alias("b")
            ).collect()
        # over non-empty partitions, as per_partition_metrics reports them
        sizes = [r["b"] for r in per]
        sp["counts"].update(partitions=n_parts, nonempty=len(sizes))
        self.metrics["pipeline.partition_bytes_max_over_mean"] = max(sizes) / (sum(sizes) / len(sizes))

    def measure_scaling(self) -> None:
        """docs/s with every task slot ÷ (slots × docs/s with one task), on the same
        cached quarter of the input, the two sizes interleaved."""
        from pyspark.sql import functions as F

        from html2text_spark import pipeline

        tr = self.tracer
        quarter = self.read().filter(F.pmod(F.xxhash64("doc_id"), F.lit(4)) == 0)
        cached = {
            1: quarter.repartition(1).persist(),
            self.slots: quarter.repartition(self.slots).persist(),
        }
        for df in cached.values():
            df.count()
        dps = {k: [] for k in cached}
        for i in range(self.spec["scaling_pairs"]):
            for tasks, df in cached.items():
                with tr.span("pipeline.scaling", tasks=tasks, repeat=i) as sp:
                    m = pipeline.extraction_metrics(pipeline.extract(df)).collect()[0]
                dps[tasks].append(m["docs"] / (sp["end"] - sp["start"]))
        for df in cached.values():
            df.unpersist()
        self.metrics["pipeline.scaling_eff"] = statistics.median(dps[self.slots]) / (
            self.slots * statistics.median(dps[1])
        )


def run(args, bench_spec: dict, spec: dict) -> dict:
    import cluster

    run_dir = os.path.join(WORK, "run-%d" % os.getpid())
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cluster.point_temp_dirs(run_dir)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    b = Bench(args, spec, run_dir)
    try:
        b.setup()
        b.expect()
        b.measure_main()
        b.measure_resume()
        if args.trace:
            b.measure_layers()
    finally:
        b.cluster.close()
        b.metrics["peak_rss_mb"] = b.rss.stop()
        cluster.reap_descendants()
        shutil.rmtree(run_dir, ignore_errors=True)
    wanted = bench_spec["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": b.metrics[m["name"]], "unit": m["unit"]} for m in wanted}
    if args.trace:
        # each per-layer value is also stored on the span it was measured in
        for name, m in metrics.items():
            b.tracer.annotate(spec["per_layer"][name]["span"], **{name: m["value"]})
        b.tracer.write(os.path.join(WORK, "traces", "%s.jsonl" % b.tracer.run_id))
    return {
        "correct": b.check.failed == 0 and b.check.attempted > 0,
        "attempted": b.check.attempted,
        "failed": b.check.failed,
        "metrics": metrics,
        "first_failure": b.check.first_failure,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import html2text_spark  # noqa: F401  the program under test
    except ImportError as e:
        print("benchmark: cannot import html2text_spark from %s: %s" % (ROOT, e), file=sys.stderr)
        return 2
    import workloads

    spec = workloads.load_spec()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench_spec = json.load(f)
    if args.workload not in spec["workloads"]:
        print("benchmark: unknown workload %r" % args.workload, file=sys.stderr)
        return 2
    unmapped = {m["name"] for m in bench_spec["per_layer"]} ^ set(spec["per_layer"])
    if unmapped:
        print("benchmark: per-layer metrics not in both BENCHMARK.json and spec.json: %s"
              % sorted(unmapped), file=sys.stderr)
        return 2
    import cluster

    # before any process is started: orphans come back to this process, and
    # SIGTERM unwinds through run()'s clean-up like an exception
    cluster.adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        result = run(args, bench_spec, spec)
    except Exception:
        traceback.print_exc()
        return 1
    first_failure = result.pop("first_failure")
    if first_failure:
        print("first failing document: %s" % first_failure)
    for name, m in result["metrics"].items():
        print("metric %s %s = %r %s" % (args.workload, name, m["value"], m["unit"]))
    print("metric %s failed_ratio = %r ratio" % (args.workload, result["failed"] / result["attempted"]))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
