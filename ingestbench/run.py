"""Ingestion benchmark: one workload, one seed, one JSON result line.

    python3 ingestbench/run.py --workload small_file_stream --seed 1 \
        --seconds 14 --trace 0

Run from the repository root. ``--trace 0`` prints every end-to-end
metric of BENCHMARK.json; ``--trace 1`` wraps the program's public calls
in spans and prints every per-layer metric instead, writing the span
tree to ``.ingestbench/traces/``. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``. See NOTES.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
STATE = os.path.join(REPO, ".ingestbench")
CORES = 4
# A run is too short for C2 to settle: its background compilation made
# run-to-run spread two to three times wider than C1 alone. The heap may
# grow to 1 GB (the program's own default is 8 GB) so several runs fit in
# a shared machine's memory. Only the young generation is fixed: G1's
# adaptive young sizing moved peak RSS by a fifth between runs, while the
# old generation, which grows with what the program keeps, stays free.
# No perf-data file: the JVM would write it under /tmp, outside the
# checkout.
DRIVER_MEMORY = "1g"
JVM_OPTIONS = ["-XX:TieredStopAtLevel=1", "-Xmn256m", "-XX:-UsePerfData"]


def median_s(durations: list[dict], key: str) -> float:
    """Median of one ``durationMs`` field over micro-batches, in seconds."""
    from spans import p50

    return p50([d.get(key, 0) / 1000 for d in durations])


def steal() -> float:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


class ProgressLog:
    """StreamingQueryListener sink: every micro-batch's durationMs, in
    order (``recentProgress`` keeps only the last 100 per query)."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self.terminated = 0
        self.cv = threading.Condition()

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with log.cv:
                    log.progress.append(dict(event.progress.durationMs))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with log.cv:
                    log.terminated += 1
                    log.cv.notify_all()

        return _L()

    def wait_terminated(self, n: int, timeout: float = 60) -> None:
        with self.cv:
            if not self.cv.wait_for(lambda: self.terminated >= n, timeout):
                raise RuntimeError("streaming listener lost a termination event")


class Run:
    def __init__(self, args, metrics: dict) -> None:
        self.workload, self.seed, self.seconds = args.workload, args.seed, args.seconds
        self.declared = metrics
        self.root = os.path.join(STATE, f"run-{os.getpid()}")
        self.warehouse = os.path.join(self.root, "warehouse")
        self.tracer = None
        if args.trace:
            from spans import Tracer

            self.tracer = Tracer()
        self.attempted = self.failed = 0
        self.correct = True
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.outputs: list[str] = []
        self.input_bytes = self.input_rows = 0
        self.expected_quarantines = self.quarantine_stops = 0
        self.index_table = None
        self.progress = ProgressLog()
        self.timed_from = 0  # index into progress where the timed drain starts

    # -- bookkeeping ---------------------------------------------------------

    def path(self, name: str) -> str:
        p = os.path.join(self.root, name)
        os.makedirs(p, exist_ok=True)
        return p

    def op(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"# FAILED {name}: {detail}", file=sys.stderr)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.op(name, ok, detail)
        self.correct = self.correct and ok

    def layer(self, name: str, value: float) -> None:
        self.layers[name] = value

    # -- session -------------------------------------------------------------

    def start_spark(self) -> None:
        for sub in ("local", "tmp"):
            os.makedirs(os.path.join(self.root, sub), exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.root, "local")
        # tempfile caches its directory on first use (possibly during the
        # imports above); pyspark's gateway handshake writes there
        os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(self.root, "tmp")
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # see JVM_OPTIONS
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        from dataingestionframework_spark.session import get_spark

        self.spark = get_spark("ingestbench", cores=CORES, extra_conf={
            "spark.sql.warehouse.dir": self.warehouse,
            "spark.local.dir": os.path.join(self.root, "local"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": " ".join(
                [f"-Djava.io.tmpdir={os.path.join(self.root, 'tmp')}", *JVM_OPTIONS]),
        })
        self.spark_start_s = time.perf_counter() - T_PROCESS
        self.spark.streams.addListener(self.progress.listener())

    def jobs(self) -> int:
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    def gc_s(self) -> float:
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000

    def heap_peak_mb(self) -> float:
        """Sum of the peak usage of the JVM's heap memory pools."""
        jvm = self.spark.sparkContext._jvm
        heap = jvm.java.lang.management.MemoryType.HEAP
        return sum(p.getPeakUsage().getUsed()
                   for p in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
                   if p.getType() == heap) / 2**20

    # -- phases --------------------------------------------------------------

    def stream_call(self, start_query) -> None:
        """One untimed bounded drain (warm-up)."""
        n = self.progress.terminated
        start_query()
        self.progress.wait_terminated(n + 1)

    def setup_done(self, prepare_s: float, warmup_s: float) -> None:
        # process start -> SparkSession, the median of the repeated
        # fresh-root preparations, and the one warm-up step
        self.e2e["setup_s"] = self.spark_start_s + prepare_s + warmup_s

    def begin_timed(self) -> None:
        self.timed_from = len(self.progress.progress)
        self.jobs_before = self.jobs()
        self.cpu_before = self.cpu_s()
        self.steal_before = steal()
        self.t_timed = time.perf_counter()

    def timed_drain(self, start_query) -> float:
        """Bounded drain of the landed backlog, restarted after each
        planned quarantine stop (the gate fails the batch's query by
        design). Returns the wall seconds of the whole drain."""
        n = self.progress.terminated
        t0 = time.perf_counter()
        runs = 0
        while True:
            runs += 1
            try:
                start_query()
                break
            except Exception as e:  # StreamingQueryException wrapping BadRecordsError
                if "Bad records" not in str(e) or self.quarantine_stops >= self.expected_quarantines:
                    raise
                self.quarantine_stops += 1
                self.op("quarantined_batch", True)
        drain_s = time.perf_counter() - t0
        self.progress.wait_terminated(n + runs)
        self.batches = self.progress.progress[self.timed_from:]
        self.jobs_drain = self.jobs() - self.jobs_before
        for _ in self.batches:
            self.op("micro_batch", True)
        self.op("planned_quarantines", self.quarantine_stops == self.expected_quarantines,
                f"{self.quarantine_stops} quarantine stops, expected {self.expected_quarantines}")
        return drain_s

    def end_timed(self, drain_s: float, result_s: float, report_s: float | None) -> None:
        self.t_timed_end = time.perf_counter()
        cpu = self.cpu_s() - self.cpu_before
        print(f"# timed phase: wall {self.t_timed_end - self.t_timed:.3f} s, "
              f"cpu {cpu:.3f} s, host steal {steal() - self.steal_before:.3f} s; micro-batch "
              f"ms {[b.get('triggerExecution') for b in self.batches]}", file=sys.stderr)
        if report_s is not None:
            self.op("daily_report", True)
        self.e2e["batch_latency_p50_s"] = median_s(self.batches, "triggerExecution")
        self.e2e["input_rows_per_s"] = self.input_rows / drain_s
        self.e2e["result_cpu_s"] = cpu
        self.layer("trace.result_s", result_s)
        self.layer("reconcile.report_s", report_s or 0.0)

    # -- per-layer metrics from the traced run ---------------------------------

    def install_tracing(self) -> None:
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        from dataingestionframework_spark.catalog import table as table_mod
        from dataingestionframework_spark.catalog.system import OpsLog
        from dataingestionframework_spark.errors import BadRecordsError
        from dataingestionframework_spark.ingest import drift, pipeline, reconcile
        from dataingestionframework_spark.operators import dedup

        tr = self.tracer
        tr.wrap(pipeline.IngestionPipeline, "process_batch", "ingest.process_batch")
        tr.wrap(drift, "sniff_source_columns", "ingest.drift_sniff")

        def oplog(orig):
            def traced(*a, **kw):
                with tr.span("catalog.oplog_write", control=kw.get("update_control", True)):
                    return orig(*a, **kw)
            return traced
        tr.patch(OpsLog, "write", oplog)
        for m, name in (("append_rows", "append_rows"), ("update_rows", "update_rows"),
                        ("_log_commit", "log_commit"), ("append_counted", "append_counted"),
                        ("merge", "merge")):
            tr.wrap(table_mod.ManagedTable, m, f"catalog.{name}")
        tr.wrap(reconcile, "daily_report", "reconcile.daily_report")

        def quarantine(orig):
            def traced(*a, **kw):
                with tr.span("ingest.quarantine"):
                    try:
                        n = orig(*a, **kw)
                    except BadRecordsError as e:
                        tr.counts["quarantined_rows"] += e.n_bad
                        raise
                    tr.counts["quarantined_rows"] += n
                    return n
            return traced
        tr.patch(pipeline, "quarantine_batch", quarantine)

        def lsh_update(orig):
            def traced(*a, **kw):
                consume = kw.get("consume")

                def counted(pairs):
                    # consume's full scan fills the candidate cache; the
                    # count then re-reads it, before the index append
                    out = consume(pairs)
                    with tr.extra():
                        tr.counts["candidate_pairs"] += pairs.count()
                    return out
                if consume is not None:
                    kw["consume"] = counted
                with tr.span("dedup.lsh_update"):
                    return orig(*a, **kw)
            return traced
        tr.patch(dedup, "update_lsh_index_bucketed", lsh_update)

        def verify(orig):
            # the function returns a lazy frame that the intake fuses into
            # its drop-id job; checkpointing it here computes the verify
            # once, in this span, so the count re-reads the checkpoint and
            # the intake's job reads it instead of re-verifying
            def traced(*a, **kw):
                with tr.span("dedup.verify"):
                    out = orig(*a, **kw).localCheckpoint()
                with tr.extra():
                    tr.counts["verified_pairs"] += out.count()
                return out
            return traced
        tr.patch(dedup, "verify_pairs_jaccard_arrays", verify)

        def foreach_batch(orig):
            def traced_fb(writer, func):
                def handler(df, epoch):
                    tr.batch = epoch
                    with tr.span("stream.foreach_batch"):
                        return func(df, epoch)
                return orig(writer, handler)
            return traced_fb
        tr.patch(DataStreamWriter, "foreachBatch", foreach_batch)

    def trace_layers(self) -> None:
        from spans import p50

        tr = self.tracer
        timed = [s for s in tr.spans if self.t_timed <= s["start"] <= self.t_timed_end]

        def durs(name):
            return [s["end"] - s["start"] for s in sorted(timed, key=lambda s: s["start"])
                    if s["name"] == name]

        b = self.batches
        for key, name in (("latestOffset", "latest_offset"), ("getBatch", "get_batch"),
                          ("addBatch", "add_batch"), ("walCommit", "wal_commit"),
                          ("commitOffsets", "commit_offsets")):
            self.layer(f"microbatch.{name}_s_p50", median_s(b, key))
        self.layer("microbatch.batches", len(b))
        self.layer("session.spark_start_s", self.spark_start_s)
        self.layer("session.spark_jobs_per_batch", self.jobs_drain / max(1, len(b)))
        self.layer("session.jvm_gc_s", self.gc_s())
        self.layer("session.jvm_heap_peak_mb", self.heap_peak_mb())
        self.layer("session.jvm_rss_mb", self.rss_mb["java"])
        self.layer("session.python_rss_mb", self.rss_mb["python"])
        pb = durs("ingest.process_batch")
        self.layer("ingest.process_batch_s_p50", p50(pb))
        self.layer("ingest.process_batch_calls", len(pb))
        sniff = durs("ingest.drift_sniff")
        self.layer("ingest.drift_sniff_s_total", sum(sniff))
        self.layer("ingest.drift_sniff_calls", len(sniff))
        self.layer("ingest.quarantine_s_total", sum(durs("ingest.quarantine")))
        self.layer("ingest.quarantined_rows", tr.counts["quarantined_rows"])
        # growth of the control-plane commit: first vs last tenth (at
        # least three) of the log-only writes over the kept catalog's
        # whole life (warm-up and timed drain), before the probe. They
        # append one log row, whose commit re-reads the logs table's
        # growing history; the control-updating writes add a control-table
        # rewrite that does not grow and whose jitter hides the growth
        # over a few dozen writes.
        log_only = [s["end"] - s["start"] for s in sorted(tr.spans, key=lambda s: s["start"])
                    if s["name"] == "catalog.oplog_write" and not s["control"]
                    and s["start"] <= self.t_timed_end]
        tenth = max(3, len(log_only) // 10)
        self.layer("catalog.oplog_write_s_p50_head", p50(log_only[:tenth]))
        self.layer("catalog.oplog_write_s_p50_tail", p50(log_only[-tenth:]))
        self.layer("catalog.oplog_write_calls", len(durs("catalog.oplog_write")))
        for name in ("append_rows", "update_rows", "log_commit", "append_counted"):
            self.layer(f"catalog.{name}_s_total", sum(durs(f"catalog.{name}")))
        self.layer("dedup.lsh_update_s_p50", p50(durs("dedup.lsh_update")))
        cand, ver = tr.counts["candidate_pairs"], tr.counts["verified_pairs"]
        self.layer("dedup.candidate_pairs", cand)
        self.layer("dedup.verified_pairs", ver)
        self.layer("dedup.verify_yield", ver / cand if cand else 0.0)
        self.layer("trace.overhead_s", tr.overhead_s)
        self.layer("trace.spans", len(tr.spans))
        # layers a workload does not run report zero work
        for name in ("catalog.log_files", "catalog.history_bytes", "catalog.files_written",
                     "catalog.lost_control_updates", "catalog.merge_s_p50",
                     "catalog.merge_bytes_written", "catalog.merge_write_amplification",
                     "dedup.index_rows", "dedup.index_files", "corpus.docs_kept",
                     "corpus.docs_dropped"):
            self.layers.setdefault(name, 0)

    # -- resources -----------------------------------------------------------

    def tree_pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for pid in filter(str.isdigit, os.listdir("/proc")):
            try:
                with open(f"/proc/{pid}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(pid))
        todo, out = [os.getpid()], []
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    def cpu_s(self) -> float:
        """User plus system CPU seconds of this process tree."""
        total = 0
        for pid in self.tree_pids():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                total += int(fields[11]) + int(fields[12]) + int(fields[13]) + int(fields[14])
            except (OSError, IndexError, ValueError):
                pass
        return total / os.sysconf("SC_CLK_TCK")

    def peak_rss(self) -> dict[str, float]:
        """VmHWM in MB over this process and its descendants, summed for
        the JVM ("java") and for everything else ("python": this process
        and the Python workers the JVM forked)."""
        total = {"java": 0.0, "python": 0.0}
        for pid in self.tree_pids():
            try:
                with open(f"/proc/{pid}/status") as f:
                    status = dict(line.split(":", 1) for line in f if ":" in line)
            except OSError:
                continue
            if "VmHWM" in status:
                kind = "java" if status["Name"].strip() == "java" else "python"
                total[kind] += int(status["VmHWM"].split()[0]) / 1024
        return total

    def finish(self) -> dict:
        from workloads import dir_bytes

        self.e2e["storage_amplification"] = dir_bytes(*self.outputs) / self.input_bytes
        self.rss_mb = self.peak_rss()
        self.e2e["peak_rss_mb"] = sum(self.rss_mb.values())
        if self.tracer:
            self.trace_layers()
        values = self.layers if self.tracer else self.e2e
        section = "per_layer" if self.tracer else "end_to_end"
        metrics = {}
        for m in self.declared[section]:
            if m["name"] not in values:
                raise KeyError(f"{self.workload} did not measure {m['name']}")
            metrics[m["name"]] = {"value": float(values[m["name"]]), "unit": m["unit"]}
        return metrics

    def records(self) -> None:
        """Cross-run records: the untraced result (for the tracing
        overhead) and the exact-repeat counts of traced runs, keyed by the
        code that made them so only runs of the same code are compared."""
        rec_dir = os.path.join(STATE, "records")
        os.makedirs(rec_dir, exist_ok=True)
        key = f"{self.workload}-seed{self.seed}-s{self.seconds}-{code_digest()}"
        untraced = os.path.join(rec_dir, f"{key}-untraced.json")
        if not self.tracer:
            with open(untraced, "w") as f:
                json.dump({**self.e2e, "result_s": self.layers["trace.result_s"]}, f)
            return
        counts = {k: self.layers.get(k) for k in (
            "microbatch.batches", "session.spark_jobs_per_batch", "catalog.oplog_write_calls",
            "catalog.log_files", "dedup.candidate_pairs", "corpus.docs_kept")}
        counts["input_bytes"] = self.input_bytes
        repeat = os.path.join(rec_dir, f"{key}-repeat.json")
        if os.path.exists(repeat):
            with open(repeat) as f:
                before = json.load(f)
            self.op("exact_repeat", before == counts, f"{before} != {counts}")
        else:
            with open(repeat, "w") as f:
                json.dump(counts, f)
        extra = {"workload": self.workload, "seed": self.seed, "seconds": self.seconds,
                 "traced_result_s": self.layers["trace.result_s"],
                 "tracing_overhead_s": self.tracer.overhead_s, "exact_repeat_counts": counts}
        if os.path.exists(untraced):
            with open(untraced) as f:
                extra["untraced_result_s"] = json.load(f)["result_s"]
            extra["traced_minus_untraced_s"] = extra["traced_result_s"] - extra["untraced_result_s"]
        os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
        self.tracer.dump(os.path.join(STATE, "traces", f"{key}.json"), extra)

    def close(self) -> None:
        if self.tracer:
            self.tracer.restore()
        spark = getattr(self, "spark", None)
        if spark is not None:
            for q in spark.streams.active:
                q.stop()
            if self.index_table:
                spark.sql(f"DROP TABLE IF EXISTS {self.index_table}")
            spark.stop()
            # the JVM exits when its stdin closes; wait for it before
            # removing the directories it may still be cleaning up
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        shutil.rmtree(self.root, ignore_errors=True)


def code_digest() -> str:
    """Digest of the program's and the benchmark's sources."""
    paths = []
    for top in (os.path.join(REPO, "dataingestionframework_spark"), HERE):
        for base, dirs, files in os.walk(top):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            paths += [os.path.join(base, f) for f in files]
    h = hashlib.sha256()
    for path in sorted(paths):
        h.update(os.path.relpath(path, REPO).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [HERE, REPO]
    try:
        import dataingestionframework_spark  # noqa: F401
        with open(os.path.join(REPO, "BENCHMARK.json")) as f:
            declared = json.load(f)
    except (ImportError, OSError) as e:
        print(f"ingestbench: program not found next to the benchmark: {e}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"ingestbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run = Run(args, declared)
    try:
        run.start_spark()
        if run.tracer:
            run.install_tracing()
        WORKLOADS[args.workload](run)
        metrics = run.finish()
        run.records()
    finally:
        run.close()
    print(f"# {args.workload}: {len(run.batches)} timed micro-batches, "
          f"{run.input_rows} input rows, {run.input_bytes} input bytes")
    print(json.dumps({"correct": run.correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
