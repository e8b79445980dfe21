#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload build_search --seed 1 --seconds 15 --trace 0

Run from the repository root. The last line of stdout is one JSON object
{"correct", "attempted", "failed", "metrics"}: with --trace 0 it holds the
end-to-end metrics named in BENCHMARK.json, with --trace 1 the per-layer
metrics of a traced run of the same workload. The line before it
("# run ...") records the host, the Spark configuration and sample
counts. Traced runs also write their spans to
.bench_out/spans-<workload>-seed<seed>.jsonl. Working data lives under
.bench_work/ and is removed on exit. See perfbench/README.md.

Each untraced run records its measured-phase time in
.bench_out/phases.json. A traced run reports its tracing overhead as its
own measured phase minus that of the untraced run with the same
workload, seed and code; when none is recorded, it runs the untraced
one first, as a child process.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE = "bitcoin_ledger_2es_spark"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def code_hash() -> str:
    """Digest of the engine's and the benchmark's source files: results
    recorded in .bench_out/ are compared only between runs of the same
    code."""
    h = hashlib.sha256()
    for base in (ROOT / ENGINE, HERE):
        for f in sorted(base.rglob("*.py")):
            h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    return h.hexdigest()[:16]


def recorded(name: str, key: str, value=None):
    """Read (``value`` None) or set ``key`` in .bench_out/<name>.json."""
    store = ROOT / ".bench_out" / f"{name}.json"
    seen = json.loads(store.read_text()) if store.exists() else {}
    if value is None:
        return seen.get(key)
    seen[key] = value
    store.parent.mkdir(exist_ok=True)
    tmp = store.with_suffix(f".{os.getpid()}.tmp")
    tmp.write_text(json.dumps(seen, indent=1, sort_keys=True))
    tmp.replace(store)
    return value


def phase_key(args, code: str) -> str:
    return f"{args.workload}-seed{args.seed}-s{args.seconds:g}-{code}"


def untraced_phase_s(args, code: str) -> float:
    """Measured-phase seconds of the untraced run of this workload, seed
    and code: recorded by an earlier run, or by running it now."""
    key = phase_key(args, code)
    if recorded("phases", key) is None:
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", f"{args.seconds:g}", "--trace", "0"]
        subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, check=True)
    phase = recorded("phases", key)
    if phase is None:
        raise RuntimeError(f"untraced run recorded no measured phase under {key}")
    return phase


def host_facts() -> dict:
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    # the driver JVM gets a quarter of the host's memory, at most 2 GiB:
    # the rest stays with the Python workers and the page cache
    heap_gb = max(1, min(2, mem_kb // 2**20 // 4))
    return {"nproc": nproc, "mem_total_mb": mem_kb // 1024, "driver_heap": f"{heap_gb}g"}


def start_spark(work: Path, host: dict):
    """local[nproc] session with the driver heap, local dirs and temp
    files all set from here (and inside ``work``)."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update({
        "SPARK_DRIVER_MEM": host["driver_heap"],
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        "PYSPARK_PYTHON": sys.executable,
        # every JVM (the launcher and the driver): temp files inside the
        # checkout, and no perf-data file under /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    tempfile.tempdir = str(tmp)
    from bitcoin_ledger_2es_spark.session import get_spark

    spark = get_spark(
        "perfbench", cores=host["nproc"], shuffle_partitions=2 * host["nproc"],
        extra={
            "spark.ui.showConsoleProgress": "false",
            # a fixed-size heap: no heap resizing between runs
            "spark.driver.extraJavaOptions": f"-Xms{host['driver_heap']}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_spark(spark) -> None:
    """Stop Spark, end its JVM and wait until every process this run
    started (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    from harness import process_tree, wait_gone

    kids = process_tree()[1:]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:
            pass
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    left = wait_gone(kids, 30)
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    if wait_gone(left, 30):
        raise RuntimeError(f"processes still running after stop: {left}")


class Context:
    """What a workload needs: the session, the run's arguments, the
    tracer, failure accounting and traced wrappers for the calls it
    makes into the engine."""

    def __init__(self, args, spark, work: Path, host: dict, spark_ready_s: float, rss,
                 code: str):
        from harness import Tracer

        self.spark = spark
        self.rss = rss
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.code = code
        self.nproc = host["nproc"]
        self.spark_ready_s = spark_ready_s
        self.tracer = Tracer(spark.sparkContext, active=False)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.marks = {"spark_ready": round(spark_ready_s, 3)}
        if self.trace:
            self._install_layer_spans()

    # ---- failure accounting

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def fail(self, what: str) -> None:
        self.check(False, what)

    def mark(self, phase: str) -> None:
        """Record when a phase ended (seconds since process start)."""
        self.marks[phase] = round(time.monotonic() - T_START, 3)

    def end_measurement(self) -> None:
        """The measured phase is over: memory sampling stops before the
        benchmark builds its goldens and checks the answers."""
        self.rss.stop()
        self.mark("measured")

    def same_checksum(self, key: str, checksum: str) -> bool:
        """Determinism contract: the same code builds, from the same
        seed, an index with the same content checksum as in every
        earlier run in this checkout (the first run records it). A code
        change that changes the index bytes starts a new record."""
        key = f"{key}-{self.code}"
        seen = recorded("checksums", key)
        if seen is None:
            recorded("checksums", key, checksum)
            return True
        return seen == checksum

    # ---- traced engine calls

    def traced(self, name: str, fn, force: bool = False):
        """``fn`` under a span named ``name`` in a traced run (forced with
        persist + count if ``force``); ``fn`` itself otherwise."""
        if not self.trace:
            return fn
        return self.tracer.wrap(name, fn, _force if force else None)

    def _install_layer_spans(self) -> None:
        """Span every call the engine makes into the build, postings and
        compaction layers, by rebinding the names it looks them up by.
        Layers that return lazy frames are forced (persist + count)
        inside their span, so their work is timed there."""
        from bitcoin_ledger_2es_spark.operators import postings
        from bitcoin_ledger_2es_spark.plans import build
        from bitcoin_ledger_2es_spark.streaming import compaction, incremental

        for module, attr, name, force in [
            (build, "conversation_offsets", "ids.conversation_offsets", True),
            (build, "assign_doc_ids", "ids.assign_doc_ids", True),
            (build, "tokenized_documents", "build.tokenized_documents", True),
            (postings, "spimi_blocks", "postings.spimi_blocks", True),
            (postings, "dictionary_from_blocks", "postings.dictionary_from_blocks", True),
            (postings, "finalize_blocks", "postings.finalize_blocks", True),
            (incremental, "build_index", "build.build_index", False),
            (incremental, "write_index", "build.write_index", False),
            (compaction, "merge_postings_frames", "compaction.merge_postings_frames", False),
        ]:
            setattr(module, attr, self.traced(name, getattr(module, attr), force))


def _force(out) -> None:
    df = out[0] if isinstance(out, tuple) else out
    df.persist()
    df.count()


def layer_metrics(ctx, res: dict, untraced_s: float) -> dict:
    """Per-layer metrics from the traced run's spans. Times are the
    median self time per call; counts are per call. A layer the
    workload never calls reports 0. ``untraced_s`` is the untraced run's
    measured phase: the tracing overhead is the traced phase minus it."""
    from harness import median

    tr = ctx.tracer

    def self_s(name):
        spans = tr.closed(name)
        return median([tr.self_time(s) for s in spans]) if spans else 0.0

    def per_call(name, i=0):  # i: 0 jobs, 1 stages, 2 tasks
        spans = tr.closed(name)
        return median([tr.subtree_counts(s)[i] for s in spans]) if spans else 0

    def mean_jobs(name):
        spans = tr.closed(name)
        return sum(tr.subtree_counts(s)[0] for s in spans) / len(spans) if spans else 0.0

    top = [s for s in tr.closed() if s["parent"] is None]
    m = {
        "sources.read_transcripts_s": self_s("sources.read_transcripts"),
        "ids.conversation_offsets_s": self_s("ids.conversation_offsets"),
        "ids.assign_doc_ids_s": self_s("ids.assign_doc_ids"),
        "build.tokenized_documents_s": self_s("build.tokenized_documents"),
        "postings.spimi_blocks_s": self_s("postings.spimi_blocks"),
        "postings.dictionary_from_blocks_s": self_s("postings.dictionary_from_blocks"),
        "postings.finalize_blocks_s": self_s("postings.finalize_blocks"),
        "build.build_index_s": self_s("build.build_index"),
        "build.write_index_s": self_s("build.write_index"),
        "build.read_index_s": self_s("build.read_index"),
        "build.spark_jobs": per_call("build.build_index"),
        "build.spark_stages": per_call("build.build_index", 1),
        "build.spark_tasks": per_call("build.build_index", 2),
        "build.write_spark_jobs": per_call("build.write_index"),
        "query.open_searcher_s": self_s("query.open_searcher"),
        "query.top_k_call_s": self_s("query.top_k_call"),
        "query.collect_s": self_s("query.collect"),
        "query.lookup_jobs": mean_jobs("query.top_k_call"),
        "query.spark_jobs": mean_jobs("bench.query_request"),
        "query.top_k_batch_s": self_s("query.top_k_batch"),
        "query.top_k_batch_jobs": per_call("query.top_k_batch"),
        "incremental.build_segment_s": self_s("incremental.build_segment"),
        "incremental.spark_jobs_per_segment": per_call("incremental.build_segment"),
        "incremental.open_searcher_s": self_s("incremental.open_searcher"),
        "incremental.top_k_call_s": self_s("incremental.top_k_call"),
        "incremental.collect_s": self_s("incremental.collect"),
        "incremental.lookup_jobs": mean_jobs("incremental.top_k_call"),
        "incremental.compact_s": self_s("incremental.compact"),
        "compaction.merge_postings_frames_s": self_s("compaction.merge_postings_frames"),
        "compaction.spark_jobs": per_call("incremental.compact"),
        "compaction.bytes_written": 0,
        "trace.spans": len(tr.closed()),
        "trace.overhead_s": res["_phase_s"] - untraced_s,
        "trace.wall_s": res["_phase_s"],
        "trace.unattributed_s": res["_phase_s"] - sum(s["end"] - s["start"] for s in top),
    }
    m.update(res["_layers"])
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / ENGINE / "__init__.py").is_file():
        print(f"perfbench: engine package {ENGINE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    sys.path[:0] = [str(ROOT), str(HERE)]
    from harness import RssSampler, cpu_ticks, steal_share
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    host = host_facts()
    code = code_hash()
    untraced_s = untraced_phase_s(args, code) if args.trace else None
    ticks = cpu_ticks()
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True)
    spark = None
    try:
        with RssSampler() as rss:
            spark = start_spark(work, host)
            ctx = Context(args, spark, work, host, time.monotonic() - T_START, rss, code)
            res = WORKLOADS[args.workload](ctx)
            ctx.mark("checks")
            if args.trace:
                metrics = layer_metrics(ctx, res, untraced_s)
                out_dir = ROOT / ".bench_out"
                out_dir.mkdir(exist_ok=True)
                ctx.tracer.write(out_dir / f"spans-{args.workload}-seed{args.seed}.jsonl")
            else:
                metrics = {k: v for k, v in res.items() if not k.startswith("_")}
            conf = dict(sorted(spark.sparkContext.getConf().getAll()))
            stop_spark(spark)
            spark = None
        if not args.trace:
            metrics["peak_rss_mb"] = rss.peak_mb
            recorded("phases", phase_key(args, code), res["_phase_s"])
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host, "code": code, "samples": res["_samples"],
        "measured_phase_s": res["_phase_s"], "untraced_phase_s": untraced_s,
        "cpu_steal_share": round(steal_share(ticks, cpu_ticks()), 4),
        "latencies_s": [round(x, 4) for x in res["_latencies_s"]],
        "failures": ctx.failures[:20], "phases_end_s": ctx.marks,
        "spark_conf": conf,
    }
    ctx.mark("stopped")
    print("# run " + json.dumps(record, sort_keys=True))
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
                    for m in wanted},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
