"""The closed-loop workloads.

Each one lands all of its input files with deterministic mtimes before
its clock starts, fixes micro-batch composition with
``max_files_per_trigger``, and runs from a fresh catalog root,
checkpoint and index table. Spark starts the next micro-batch when the
previous one commits; nothing is generated while the clock runs."""

from __future__ import annotations

import os
import random
import shutil
import threading
import time
from datetime import datetime, timezone

import gen
from checks import merge_image_diff, near_dup_survivors
from spans import p50

SETUP_REPEATS = 3
# Work per --seconds, sized so the timed phase takes about --seconds on
# a 4-vCPU VM; fixed by the arguments, never by timing.
FILES_PER_SECOND = 1.0
SECONDS_PER_CORPUS_BATCH = 5


def dir_bytes(*paths: str) -> int:
    total = 0
    for p in paths:
        for base, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def count_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, files in os.walk(path) for f in files)


# -- small_file_stream --------------------------------------------------------

SMALL_ROWS_PER_FILE = 200
MERGE_ROUNDS = 3
MERGE_UPDATES, MERGE_INSERTS = 100, 50


def _prepare_events(run):
    """SETUP_REPEATS fresh roots, each with a new catalog, system tables
    and ``prepare()``; the last is kept for the run. Returns (root,
    pipeline, spec, median prepare seconds)."""
    from dataingestionframework_spark.catalog.table import TableCatalog
    from dataingestionframework_spark.ingest.pipeline import IngestionPipeline
    from dataingestionframework_spark.specs import ColumnSpec, IngestionSpec

    times, kept = [], None
    for k in range(SETUP_REPEATS):
        root = run.path(f"events-{k}")
        t = time.perf_counter()
        pipe = IngestionPipeline(TableCatalog(run.spark, os.path.join(root, "catalog")))
        spec = IngestionSpec(
            header_id=1, source_name="events", table_name="bench.events",
            source_path=os.path.join(root, "landing"), file_format="csv",
            columns=[ColumnSpec(c, c, typ, i + 1, is_pii=(c == gen.SMALL_PII))
                     for i, (c, typ) in enumerate(zip(gen.SMALL_HEADER, gen.SMALL_TYPES))],
            corrupt_location=os.path.join(root, "quarantine", "corrupt"),
            error_location=os.path.join(root, "quarantine", "errors"),
            checkpoint_location=os.path.join(root, "checkpoint"),
            pii_table_name="bench.events_pii", max_files_per_trigger=1,
            ignore_missing_files=True,  # quarantined files move away before replay
        )
        pipe.prepare(spec)
        times.append(time.perf_counter() - t)
        if kept:
            shutil.rmtree(kept[0])
        kept = (root, pipe, spec)
    return (*kept, p50(times))


def _stream(pipe, spec):
    return lambda: pipe.run_stream(spec, bounded=True, timeout_s=170)


def _catalog_layers(run, pipe) -> None:
    """Control-plane state after the run: log files, history bytes,
    files written under the catalog root."""
    root = pipe.catalog.root
    run.layer("catalog.log_files", count_files(pipe.tables.logs.data_dir()))
    hist = sum(os.path.getsize(os.path.join(b, f)) for b, _, fs in os.walk(root)
               for f in fs if f == "_history.jsonl")
    run.layer("catalog.history_bytes", hist)
    run.layer("catalog.files_written", count_files(root))


def lost_update_probe(run, pipe) -> None:
    """Two OpsLog.write calls for different headers, both held at the
    control table's pointer swap by a barrier so both read the same
    image before either commits. A correct control table keeps both
    JobIDs; every missing one is a lost update and a failed operation."""
    import pyarrow.parquet as pq

    from dataingestionframework_spark.catalog.table import ManagedTable

    control = pipe.tables.control
    headers = (9001, 9002)
    now = datetime.now(timezone.utc).replace(tzinfo=None)
    control.append_rows([{"HeaderID": h, "StatusID": 0, "PreviousBatchID": 0,
                          "LatestBatchID": 0, "JobID": None, "LastUpdateTime": now}
                         for h in headers])
    barrier = threading.Barrier(len(headers), timeout=5)
    orig = ManagedTable.__dict__["_swap"]

    def held_swap(self, *a, **kw):
        if os.path.abspath(self.root) == os.path.abspath(control.root):
            try:
                barrier.wait()
            except threading.BrokenBarrierError:
                pass  # a serialised writer never meets its peer: proceed
        return orig(self, *a, **kw)

    errors = []

    def write(h):
        try:
            pipe.log.write(h, "PROBE", "lost-update probe", 1, job_id=f"probe-{h}")
        except Exception as e:  # reported as a failed probe below
            errors.append(repr(e))

    ManagedTable._swap = held_swap
    try:
        threads = [threading.Thread(target=write, args=(h,)) for h in headers]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        ManagedTable._swap = orig
    ctl = pq.read_table(control.data_dir()).to_pandas()
    lost = sum(
        1 for h in headers
        if list(ctl.loc[ctl["HeaderID"] == h, "JobID"]) != [f"probe-{h}"]
    )
    run.layer("catalog.lost_control_updates", lost)
    run.op("lost_update_probe_threads", not errors and not any(t.is_alive() for t in threads),
           "; ".join(errors))
    for h in range(lost):
        run.op("control_update", False, "control-table update lost under concurrent OpsLog.write")


def small_file_stream(run) -> None:
    import pyarrow.parquet as pq

    from dataingestionframework_spark.ingest.masking import REDACT_TOKEN

    from dataingestionframework_spark.ingest.reconcile import PASS_FLAG, daily_report

    root, pipe, spec, prep_s = _prepare_events(run)
    target = pipe.catalog.table(spec.table_name)
    rng = random.Random(run.seed)
    n_files = max(4, round(run.seconds * FILES_PER_SECOND))
    corrupt = set(rng.sample(range(1, n_files + 1), max(1, n_files // 8)))
    run.expected_quarantines = len(corrupt)
    change_dir = os.path.join(root, "corrections")

    def merge(path: str) -> float:
        t = time.perf_counter()
        target.merge(run.spark.read.parquet(path), on=["Id"],
                     when_matched_update="all", when_not_matched_insert=True)
        return time.perf_counter() - t

    # warm-up: one clean file in one micro-batch, then one MERGE round
    warm = gen.small_files(rng, spec.source_path, 0, 1, SMALL_ROWS_PER_FILE, set())
    ids = list(range(SMALL_ROWS_PER_FILE))
    changes = [os.path.join(change_dir, f"round_{k}.parquet") for k in range(MERGE_ROUNDS + 1)]
    next_id, warm_chg = gen.events_corrections(rng, changes[0], ids, 30, 0, 10_000_000)
    t = time.perf_counter()
    run.stream_call(_stream(pipe, spec))
    merge(changes[0])
    run.setup_done(prep_s, time.perf_counter() - t)

    files = gen.small_files(rng, spec.source_path, 1, n_files, SMALL_ROWS_PER_FILE, corrupt)
    good = {**warm.good_rows, **files.good_rows}
    ids += [int(os.path.basename(p)[7:12]) * 10_000 + j
            for p in files.good_rows for j in range(SMALL_ROWS_PER_FILE)]
    chg_bytes = 0
    for p in changes[1:]:
        next_id, b = gen.events_corrections(rng, p, ids, MERGE_UPDATES, MERGE_INSERTS, next_id)
        chg_bytes += b
    expect_ids = set(ids)
    run.input_bytes = warm.bytes + files.bytes + warm_chg + chg_bytes
    run.input_rows = sum(files.total_rows.values())

    run.begin_timed()
    drain_s = run.timed_drain(_stream(pipe, spec))
    t = time.perf_counter()
    report = daily_report(pipe.catalog, pipe.tables, [spec]).collect()
    report_s = time.perf_counter() - t
    merge_s, merge_bytes = [], 0
    for p in changes[1:]:
        merge_s.append(merge(p))
        run.op("merge_round", True)
        merge_bytes += dir_bytes(target.data_dir())
    run.end_timed(drain_s, drain_s + report_s + sum(merge_s), report_s)
    run.layer("catalog.merge_s_p50", p50(merge_s))
    run.layer("catalog.merge_bytes_written", merge_bytes)
    run.layer("catalog.merge_write_amplification", merge_bytes / chg_bytes)

    # correctness, outside the timed window
    n_good = sum(good.values())
    moved = sorted(f.split("-", 1)[1] for f in os.listdir(spec.error_location))
    planted = sorted(os.path.basename(p) for p in files.corrupt_rows)
    last_bad = max(files.corrupt_rows)  # quarantine overwrites: the last batch stays
    q = pq.read_table(spec.corrupt_location).to_pandas()
    run.check("quarantine", moved == planted and len(q) == files.total_rows[last_bad]
              and int(q["_rescued_data"].notna().sum()) == files.corrupt_rows[last_bad],
              f"moved {moved} vs planted {planted}; quarantined {len(q)} rows")
    pii = pq.read_table(pipe.catalog.table(spec.pii_table_name).data_dir(),
                        columns=[gen.SMALL_PII]).column(gen.SMALL_PII).to_pylist()
    run.check("pii_masked", len(pii) == n_good and set(pii) == {REDACT_TOKEN},
              f"{len(pii)} PII rows, values {sorted(set(pii))[:3]}")
    got = [(r.SourceRowCount, r.TableRowCount, r.LoggedRowCount, r.RowCountMatchFlag,
            r.JobTimeoutStatus) for r in report]
    want = [(n_good, n_good, n_good, PASS_FLAG, "OK")]
    run.check("report_counts", got == want, f"report {got} != {want}")
    n, only_tbl, only_img = merge_image_diff(
        list(zip(gen.SMALL_HEADER, gen.SMALL_TYPES)), ["Id"], sorted(good), changes,
        target.data_dir())
    got_ids = set(pq.read_table(target.data_dir(), columns=["Id"]).column("Id").to_pylist())
    run.check("target_vs_duckdb", only_tbl == only_img == 0 and n == len(expect_ids)
              and got_ids == expect_ids,
              f"{only_tbl} rows only in table, {only_img} only in oracle, "
              f"{len(got_ids ^ expect_ids)} ids differ")

    run.outputs = [os.path.join(root, "catalog"), os.path.join(root, "quarantine")]
    if run.tracer:
        _catalog_layers(run, pipe)
        lost_update_probe(run, pipe)


# -- corpus_near_dup_stream ---------------------------------------------------

DOCS_PER_BATCH = 200
THRESHOLD = 0.5


def corpus_near_dup_stream(run) -> None:
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from dataingestionframework_spark.ingest.corpus import corpus_incremental_near_dup_intake

    spark = run.spark
    t = time.perf_counter()
    root = run.path("corpus")
    index = run.index_table = f"ingestbench_idx_{os.getpid()}"
    spark.sql(f"DROP TABLE IF EXISTS {index}")
    prep_s = time.perf_counter() - t
    landing, sink = os.path.join(root, "landing"), os.path.join(root, "sink")
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType())])

    def intake():
        stream = (spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
                  .parquet(landing))
        corpus_incremental_near_dup_intake(
            stream, sink, os.path.join(root, "checkpoint"), index,
            threshold=THRESHOLD).awaitTermination(170)

    rng = random.Random(run.seed)
    n_batches = max(2, round(run.seconds / SECONDS_PER_CORPUS_BATCH))
    corpus = gen.corpus_batches(rng, landing, [DOCS_PER_BATCH // 2])
    t = time.perf_counter()
    run.stream_call(intake)
    run.setup_done(prep_s, time.perf_counter() - t)

    gen.corpus_batches(rng, landing, [DOCS_PER_BATCH] * n_batches, corpus=corpus,
                       first_index=1)
    run.input_bytes = corpus.bytes
    run.input_rows = DOCS_PER_BATCH * n_batches
    run.begin_timed()
    drain_s = run.timed_drain(intake)
    run.end_timed(drain_s, drain_s, None)

    # correctness, outside the timed window
    expect = near_dup_survivors(corpus.docs, THRESHOLD)
    kept_ids = set(pq.read_table(sink, columns=["doc_id"]).column("doc_id").to_pylist())
    dropped = set(pq.read_table(sink + "_dropped", columns=["doc_id"])
                  .column("doc_id").to_pylist())
    all_ids = {i for i, _ in corpus.docs}
    run.check("near_dup_survivors", kept_ids == expect and dropped == all_ids - expect,
              f"{len(kept_ids ^ expect)} survivors differ; {len(dropped)} dropped")
    run.layer("corpus.docs_kept", len(kept_ids))
    run.layer("corpus.docs_dropped", len(dropped))
    index_dir = os.path.join(run.warehouse, index)
    run.outputs = [sink, sink + "_dropped", index_dir]
    if run.tracer:
        with run.tracer.extra():
            run.layer("dedup.index_rows", spark.table(index).count())
        run.layer("dedup.index_files", count_files(index_dir))


WORKLOADS = {
    "small_file_stream": small_file_stream,
    "corpus_near_dup_stream": corpus_near_dup_stream,
}
