"""Benchmark of the daily fraud run and the operator registry.

    python3 perfbench/run.py --workload day_ref --seed 1 --seconds 30 --trace 0

Run from the repository root (or anywhere: paths are resolved from this
file). Every workload is a closed loop with one client: one operation (a
day, or a registry gate) at a time on ``local[4]``, each waiting for the
previous one. Inputs are generated from ``--seed`` inside ``.perfbench_work/``
and every output is checked against an independent oracle outside the timed
region. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones (see README.md).
"""

from __future__ import annotations

import argparse
import datetime as dt
import importlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spans import Stopwatch  # noqa: E402

ROOT = os.path.dirname(HERE)
PKG = "etl_process_for_detecting_fraudulent_transactions_spark"
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = 4

# Registry subset: the third gate of each family (query submodule) in sorted
# key order, plus two gates the per-layer trace names. At sf 0.01 on 4 cores
# a full cold pass of all 231 gates takes 280-440 s, and their oracles about
# 85 s more, far beyond one run, which must stay near a minute of wall time
# on a host that loses up to a third of its CPU time to other tenants; these
# 15 gates take 27-28 s. ann_recall_audit (18-36 s cold) and kcore_peel
# (~17 s oracle) run only in the traced run; four dedup gates whose DuckDB
# oracles take 5-26 s are left out.
NAMED_GATES = ("assoc_rules", "dedup_prefix_jaccard")
TRACE_ONLY_GATES = ("ann_recall_audit", "kcore_peel")
SLOW_ORACLE_GATES = ("dedup_canonical_pick", "dedup_cluster_sizes", "dedup_clusters", "dedup_recall_audit")
FAMILIES = (
    "relational", "tpch_rest", "tpch_more", "dedup", "similarity", "text", "timeseries",
    "stats", "graph", "multimodal", "quality", "sampling", "extra",
)
STAR_SF = 0.01  # the scale of the gates' own test data

RULES = ("passport", "account", "city", "guessing")

END_TO_END = ("setup_s", "first_op_s", "op_gmean_s", "total_op_s", "cached_mb")
PER_LAYER = (
    ["session.get_spark_s",
     "sources.seed_s", "sources.xlsx_terminals_s", "sources.xlsx_blacklist_s", "sources.xlsx_rows",
     "sources.csv_s", "sources.csv_rows", "sources.corrupt_rows",
     "ingest.typed_s", "ingest.null_trans_date", "ingest.null_amt",
     "scd2.apply_s", "scd2.jobs", "scd2.new", "scd2.changed", "scd2.deleted", "scd2.hist_rows",
     "storage.swap_s", "storage.append_s", "storage.append_jobs", "storage.read_back_s",
     "storage.mart_files", "storage.mart_bytes"]
    + [f"rules.{r}_{m}" for r in RULES for m in ("s", "hits", "shuffle_bytes")]
    + ["pipeline.day_s", "pipeline.jobs", "pipeline.tasks", "pipeline.busy_share",
       "pipeline.shuffle_write_bytes", "pipeline.spill_disk_bytes", "pipeline.persisted_rdds",
       "pipeline.unattributed_s", "pipeline.trace_overhead_s", "pipeline.tx_per_s"]
    + [f"queries.{f}_{m}" for f in FAMILIES for m in ("s", "jobs", "shuffle_write_bytes")]
    + ["queries.memo_entries", "queries.memo_build_gates", "queries.spill_disk_bytes",
       "queries.ann_recall_audit_s", "queries.assoc_rules_shuffle_write_bytes",
       "queries.dedup_prefix_jaccard_s", "queries.kcore_peel_s"]
)


def unit(name: str) -> str:
    if name.endswith("tx_per_s"):
        return "tx/s"
    for suffix, u in (("_s", "s"), ("_bytes", "B"), ("_share", "ratio"), ("_mb", "MB")):
        if name.endswith(suffix):
            return u
    return "count"


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def gmean(xs) -> float:
    """Geometric mean: each operation weighs alike, whatever its size, and
    no single one decides the value as the middle one of a median does."""
    xs = list(xs)
    return float(statistics.geometric_mean(xs)) if xs else 0.0


# --- session ------------------------------------------------------------------


def launch_env(work: str) -> None:
    """Spark's Python workers import the package too: put the repository on
    their PYTHONPATH whatever the working directory, and keep Spark's
    temporary files inside the work directory."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TZ"] = "UTC"
    time.tzset()
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(event_dir: str | None):
    """get_spark plus one trivial action; returns (spark, seconds)."""
    watch = Stopwatch()
    session = importlib.import_module(f"{PKG}.session")
    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_dir}",
            "spark.eventLog.compress": "false",
        })
    spark = session.get_spark(master=f"local[{CORES}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark, watch.elapsed()


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - fall back to killing the JVM
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def persisted(spark) -> tuple[int, float]:
    """(persisted RDDs, MB they hold in memory plus disk)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    held = sum(i.memSize() + i.diskSize() for i in infos)
    return len(infos), held / 1e6


# --- day workload -------------------------------------------------------------


def _norm_rows(rows) -> Counter:
    return Counter(tuple(r) for r in rows)


def _stage_day_files(corpus, day, data_dir: str) -> None:
    from corpus import ddmmyyyy

    os.makedirs(data_dir, exist_ok=True)
    tag = ddmmyyyy(day)
    for name in (f"transactions_{tag}.txt", f"terminals_{tag}.xlsx", f"passport_blacklist_{tag}.xlsx"):
        shutil.copyfile(os.path.join(corpus.data_dir, name), os.path.join(data_dir, name))


def _run_ts(day: dt.date) -> dt.datetime:
    return dt.datetime.combine(day, dt.time(23, 0))


class DayRun:
    """One store and one input directory that days are fed through."""

    def __init__(self, spark, base: str, seed_path: str):
        pipeline = importlib.import_module(f"{PKG}.plans.pipeline")
        storage = importlib.import_module(f"{PKG}.storage")
        self.data_dir = os.path.join(base, "in", "data")
        self.state = pipeline.PipelineState(
            store=storage.ParquetStore(spark, os.path.join(base, "store")),
            seed_dump_path=seed_path,
        )

    def report_rows(self, rows) -> Counter:
        return Counter((r.event_dt, r.passport, r.fio, r.phone, r.event_type) for r in rows)

    def hist_rows(self) -> Counter:
        pipeline = importlib.import_module(f"{PKG}.plans.pipeline")
        schemas = importlib.import_module(f"{PKG}.schemas")
        df = self.state.store.read(pipeline.HIST, schemas.DIM_TERMINALS_HIST)
        return _norm_rows(df.collect())


def run_day_untraced(spark, run: DayRun, corpus, day) -> tuple[float, list]:
    from corpus import ddmmyyyy

    pipeline = importlib.import_module(f"{PKG}.plans.pipeline")
    _stage_day_files(corpus, day, run.data_dir)
    watch = Stopwatch()
    rows = pipeline.run_day(spark, run.state, run.data_dir, run_date=ddmmyyyy(day),
                            run_ts=_run_ts(day)).collect()
    secs = watch.elapsed()
    print(f"# {day}: {secs:.3f} s (raw {watch.raw():.3f} s)", file=sys.stderr)
    return secs, rows


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_day_traced(spark, run: DayRun, corpus, day, tracer, counts: dict) -> tuple[float, list]:
    """``run_day``'s composition, called step by step from here, each step
    inside a span and materialized there (the package returns lazy plans)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from corpus import ddmmyyyy

    P = lambda m: importlib.import_module(f"{PKG}.{m}")  # noqa: E731
    pipeline, schemas, rules, report = P("plans.pipeline"), P("schemas"), P("plans.rules"), P("plans.report")
    csv_src, files, seed_src, xlsx_src = P("sources.csv_source"), P("sources.files"), P("sources.seed_source"), P(
        "sources.xlsx_source")
    ingest, scd2 = P("plans.ingest"), P("operators.scd2")

    _stage_day_files(corpus, day, run.data_dir)
    tag, iso, ts, state = ddmmyyyy(day), day, _run_ts(day), run.state
    tx_path = os.path.join(run.data_dir, f"transactions_{tag}.txt")
    term_path = os.path.join(run.data_dir, f"terminals_{tag}.xlsx")
    bl_path = os.path.join(run.data_dir, f"passport_blacklist_{tag}.xlsx")
    parent = tag
    span = lambda name: tracer.span(parent, name)  # noqa: E731

    watch = Stopwatch()
    with span("seed"):
        dims = seed_src.read_seed_dims(spark, state.seed_dump_path)
        for df in dims.values():
            _noop(df)
    with span("csv"):
        clean_tx, corrupt_tx = csv_src.split_corrupt(csv_src.read_transactions_csv(spark, tx_path))
        counts["csv_rows"] = clean_tx.count()
        counts["corrupt_rows"] = corrupt_tx.count()
    with span("typed"):
        transactions = ingest.typed_transactions(clean_tx)
        obs = Observation(f"typed_{tag}")
        _noop(transactions.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("trans_date").isNull().cast("long")).alias("null_trans_date"),
            F.sum(F.col("amt").isNull().cast("long")).alias("null_amt"),
        ))
        counts.update({k: v or 0 for k, v in obs.get.items()})
    with span("xlsx_blacklist"):
        blacklist = ingest.typed_blacklist(xlsx_src.read_xlsx_df(spark, bl_path, schemas.BLACKLIST_RAW))
        counts["xlsx_rows"] = blacklist.count()
    with span("xlsx_terminals"):
        snapshot = xlsx_src.read_xlsx_df(spark, term_path, schemas.TERMINALS_SNAPSHOT)
        counts["xlsx_rows"] += snapshot.count()
    with span("scd2"):
        hist = state.store.read(pipeline.HIST, schemas.DIM_TERMINALS_HIST)
        new_hist = scd2.scd2_apply_snapshot(hist, snapshot, run_ts=ts)
        _noop(new_hist)
    with span("swap"):
        state.store.overwrite_swap(new_hist, pipeline.HIST)
        hist = state.store.read(pipeline.HIST, schemas.DIM_TERMINALS_HIST)
    cards, accounts, clients = dims["cards"], dims["accounts"], dims["clients"]
    outputs = {
        "passport": rules.passport_fraud(transactions, cards, accounts, clients, blacklist, iso),
        "account": rules.account_fraud(transactions, cards, accounts, clients, iso),
        "city": rules.city_fraud(transactions, hist, cards, accounts, clients,
                                 compat_time_filter=state.compat_time_filter,
                                 compat_hist_join=state.compat_hist_join),
        "guessing": rules.guessing_amount_fraud(transactions, cards, accounts, clients),
    }
    for name, df in outputs.items():
        with span(f"rule_{name}"):
            counts[f"{name}_hits"] = df.count()
    with span("append"):
        mart = report.stamp(report.union_rules(list(outputs.values())), ts)
        state.store.append(mart, pipeline.REPORT, partition_by=["report_date"])
    with span("read_back"):
        rows = state.store.read(pipeline.REPORT, schemas.REP_FRAUD).filter(f"report_dt = '{ts}'").collect()
    with span("archive"):
        archive_dir = os.path.join(run.data_dir, os.pardir, "archive")
        for p in (tx_path, term_path, bl_path):
            files.archive_file(p, archive_dir)
    return watch.elapsed(), rows


def day_oracle(corpus, day, scd2_oracle) -> tuple[Counter, Counter]:
    import oracle

    hist = scd2_oracle.apply(corpus.snapshots[day], _run_ts(day))
    rows = oracle.rep_fraud_rows(corpus.tx_path(day), day, corpus.cards(), corpus.accounts(),
                                 corpus.clients(), corpus.blacklists[day], hist)
    return _norm_rows(rows), _norm_rows(hist)


def workload_day(args, spark, corpus, n_days: int, result: dict):
    """Consecutive days through run_day; returns (end-to-end metrics, per-layer
    metrics as a function of the event log's job groups, or None untraced)."""
    import oracle

    untraced = DayRun(spark, os.path.join(args.work, "untraced"), corpus.seed_path)
    traced = DayRun(spark, os.path.join(args.work, "traced"), corpus.seed_path) if args.trace else None
    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer(spark.sparkContext, args.workload)
    scd2_oracle = oracle.Scd2Oracle()
    times, per_day = [], []
    leaked = 0  # RDDs that run_day leaves persisted
    for day in corpus.dates[:n_days]:
        result["attempted"] += 1
        ok = True
        try:
            if tracer:
                group = f"{args.workload}:{day:%d%m%Y}:run_day"
                spark.sparkContext.setJobGroup(group, group)
            before = persisted(spark)[0]
            secs, rows = run_day_untraced(spark, untraced, corpus, day)
            if tracer:  # keep the checks' jobs out of run_day's group
                spark.sparkContext.setJobGroup(f"{args.workload}:{day:%d%m%Y}:check", "check")
            leaked += persisted(spark)[0] - before
            times.append(secs)
            want_rows, want_hist = day_oracle(corpus, day, scd2_oracle)
            got_hist = untraced.hist_rows()
            if untraced.report_rows(rows) != want_rows:
                print(f"# {day}: REP_FRAUD differs from the oracle", file=sys.stderr)
                ok = False
            if got_hist != want_hist:
                print(f"# {day}: terminal history differs from the oracle", file=sys.stderr)
                ok = False
            if traced is not None:
                counts: dict = {}
                tsecs, trows = run_day_traced(spark, traced, corpus, day, tracer, counts)
                prev = per_day[-1]["hist"] if per_day else Counter()
                per_day.append({"day": day, "secs": tsecs, "untraced_secs": secs, "counts": counts,
                                "hist": traced.hist_rows(), "prev_hist": prev})
                if _norm_rows(trows) != _norm_rows(rows) or per_day[-1]["hist"] != got_hist:
                    print(f"# {day}: traced run differs from run_day", file=sys.stderr)
                    ok = False
        except Exception:  # noqa: BLE001 - a failed day is counted, the run goes on
            traceback.print_exc()
            ok = False
        result["failed"] += 0 if ok else 1

    e2e = {
        "first_op_s": times[0] if times else 0.0,
        "op_gmean_s": gmean(times[1:]),
        "total_op_s": sum(times),
        "cached_mb": persisted(spark)[1],
    }
    if not tracer:
        return e2e, None
    extra = {
        "times": times, "per_day": per_day, "tracer": tracer,
        "persisted_rdds": leaked, "mart": mart_stats(traced.state.store.path("rep_fraud")),
        "tx_rows": [corpus.tx_rows[d] for d in corpus.dates[:n_days]],
    }
    tracer.dump(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json"))
    return e2e, lambda groups: day_layers(extra, groups, args.workload)


def mart_stats(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def day_layers(extra: dict, groups: dict, workload: str) -> dict:
    """Per-layer metrics of the traced days: medians over the days after the first."""
    from spans import GroupMetrics

    tracer, per_day = extra["tracer"], extra["per_day"]
    warm = per_day[1:] or per_day
    m: dict = {}

    def stage_s(stage):
        return median(s.secs for d in warm for s in tracer.of(d["day"].strftime("%d%m%Y"))
                      if s.name == stage)

    def group(d, stage) -> GroupMetrics:
        return groups.get(f"{workload}:{d['day'].strftime('%d%m%Y')}:{stage}", GroupMetrics())

    def per(fn):
        return median(fn(d) for d in warm)

    for name, stage in (("sources.seed_s", "seed"), ("sources.xlsx_terminals_s", "xlsx_terminals"),
                        ("sources.xlsx_blacklist_s", "xlsx_blacklist"), ("sources.csv_s", "csv"),
                        ("ingest.typed_s", "typed"), ("scd2.apply_s", "scd2"), ("storage.swap_s", "swap"),
                        ("storage.append_s", "append"), ("storage.read_back_s", "read_back")):
        m[name] = stage_s(stage)
    for key, count in (("sources.xlsx_rows", "xlsx_rows"), ("sources.csv_rows", "csv_rows"),
                       ("sources.corrupt_rows", "corrupt_rows"), ("ingest.null_trans_date", "null_trans_date"),
                       ("ingest.null_amt", "null_amt")):
        m[key] = per(lambda d: d["counts"][count])
    m["scd2.jobs"] = per(lambda d: group(d, "scd2").jobs + group(d, "swap").jobs)
    m["storage.append_jobs"] = per(lambda d: group(d, "append").jobs)
    for r in RULES:
        m[f"rules.{r}_s"] = stage_s(f"rule_{r}")
        m[f"rules.{r}_hits"] = per(lambda d: d["counts"][f"{r}_hits"])
        m[f"rules.{r}_shuffle_bytes"] = per(lambda d: group(d, f"rule_{r}").shuffle_write)
    m["scd2.hist_rows"] = sum(extra["per_day"][-1]["hist"].values())
    # classify each traced day's snapshot against the previous day's history;
    # summed over the days after the first (which loads every terminal as new)
    new, changed, deleted = [], [], []
    for d in warm:
        prev = {r[0]: r for r in d["prev_hist"].elements() if r[6] == 0 and r[5].year == 2999}
        cur = {r[0]: r for r in d["hist"].elements() if r[6] == 0 and r[5].year == 2999}
        new.append(sum(1 for k in cur if k not in prev))
        changed.append(sum(1 for k in cur if k in prev and cur[k][1:4] != prev[k][1:4]))
        deleted.append(sum(1 for k in prev if k not in cur))
    m["scd2.new"], m["scd2.changed"], m["scd2.deleted"] = sum(new), sum(changed), sum(deleted)
    m["storage.mart_files"], m["storage.mart_bytes"] = extra["mart"]

    # whole-day figures are those of the untraced run_day call, job group "run_day"
    m["pipeline.day_s"] = per(lambda d: d["untraced_secs"])
    m["pipeline.jobs"] = per(lambda d: group(d, "run_day").jobs)
    m["pipeline.tasks"] = per(lambda d: group(d, "run_day").tasks)
    m["pipeline.busy_share"] = per(lambda d: group(d, "run_day").task_ms / 1000 / (d["untraced_secs"] * CORES))
    m["pipeline.shuffle_write_bytes"] = per(lambda d: group(d, "run_day").shuffle_write)
    m["pipeline.spill_disk_bytes"] = per(lambda d: group(d, "run_day").spill_disk)
    m["pipeline.persisted_rdds"] = extra["persisted_rdds"]
    m["pipeline.unattributed_s"] = per(
        lambda d: d["secs"] - sum(s.secs for s in tracer.of(d["day"].strftime("%d%m%Y"))))
    m["pipeline.trace_overhead_s"] = per(lambda d: d["secs"] - d["untraced_secs"])
    times = extra["times"]
    m["pipeline.tx_per_s"] = sum(extra["tx_rows"][1:]) / sum(times[1:]) if len(times) > 1 else 0.0
    return m


# --- registry workload --------------------------------------------------------


def gate_families() -> dict[str, str]:
    """Gate key -> family, the query submodule that registers it."""
    return {k: f for f in FAMILIES for k in importlib.import_module(f"{PKG}.queries.{f}").QUERIES}


def registry_gates(trace: bool) -> list[str]:
    family = gate_families()
    skip = set(TRACE_ONLY_GATES) | set(SLOW_ORACLE_GATES)
    chosen = set(NAMED_GATES)
    for f in FAMILIES:
        chosen.add(sorted(k for k, kf in family.items() if kf == f and k not in skip)[2])
    gates = sorted(chosen)
    return gates + list(TRACE_ONLY_GATES) if trace else gates


def workload_registry(args, spark, sf_dir: str, result: dict):
    """One cold pass over the gate subset; returns as ``workload_day``."""
    import duckdb

    import stardata
    from tools.driver_rehearsal import _canon, _dtype_mismatches

    queries = importlib.import_module(f"{PKG}.queries")
    memo = importlib.import_module(f"{PKG}.queries._io")._CACHE_REGISTRY
    fns, oracles = queries.all_queries(), queries.all_oracles()
    sc = spark.sparkContext
    gates = registry_gates(bool(args.trace))
    times: dict[str, float] = {}
    outputs: dict[str, tuple] = {}
    memo_builds = 0
    for key in gates:
        result["attempted"] += 1
        sc.setJobGroup(f"registry:{key}", key)
        before = len(memo)
        watch = Stopwatch()
        try:
            df = fns[key](spark, sf_dir)
            rows = df.collect()
            times[key] = watch.elapsed()
            outputs[key] = (rows, df)
            print(f"# {key}: {times[key]:.3f} s (raw {watch.raw():.3f} s)", file=sys.stderr)
        except Exception:  # noqa: BLE001 - a failed gate is counted, the pass goes on
            traceback.print_exc()
            result["failed"] += 1
        memo_builds += len(memo) > before

    con = duckdb.connect()
    for t in stardata.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    # the repository's driver-contract check: column names (any case), column
    # dtype classes, then exact order-insensitive values; a gate without an
    # oracle gets its rows-only check, which the collect above already passed
    no_oracle = []
    for key, (rows, df) in outputs.items():
        if key not in oracles:
            no_oracle.append(key)
            continue
        try:
            rel = con.sql(oracles[key])
            cols, want_cols = df.columns, rel.columns
            ok = (sorted(c.lower() for c in cols) == sorted(c.lower() for c in want_cols)
                  and not _dtype_mismatches(df, rel)
                  and _canon(rows, cols) == _canon(rel.fetchall(), want_cols))
        except Exception:  # noqa: BLE001 - a check that raises is a mismatch
            traceback.print_exc()
            ok = False
        if not ok:
            print(f"# {key}: differs from its oracle", file=sys.stderr)
            result["failed"] += 1
    con.close()
    print(f"# {len(outputs) - len(no_oracle)} gates checked against their oracle, "
          f"{len(no_oracle)} rows-only: {no_oracle}", file=sys.stderr)

    order = [times[k] for k in gates if k in times]
    e2e = {
        "first_op_s": order[0] if order else 0.0,
        "op_gmean_s": gmean(order[1:]),
        "total_op_s": sum(order),
        "cached_mb": persisted(spark)[1],
    }
    if not args.trace:
        return e2e, None
    extra = {"times": times, "family": gate_families(), "memo_entries": len(memo),
             "memo_build_gates": memo_builds}
    return e2e, lambda groups: registry_layers(extra, groups)


def registry_layers(extra: dict, groups: dict) -> dict:
    from spans import GroupMetrics

    m: dict = {}
    times, family = extra["times"], extra["family"]
    for f in FAMILIES:
        keys = [k for k in times if family.get(k) == f]
        gs = [groups.get(f"registry:{k}", GroupMetrics()) for k in keys]
        m[f"queries.{f}_s"] = sum(times[k] for k in keys)
        m[f"queries.{f}_jobs"] = sum(g.jobs for g in gs)
        m[f"queries.{f}_shuffle_write_bytes"] = sum(g.shuffle_write for g in gs)
    m["queries.memo_entries"] = extra["memo_entries"]
    m["queries.memo_build_gates"] = extra["memo_build_gates"]
    m["queries.spill_disk_bytes"] = sum(g.spill_disk for k, g in groups.items() if k.startswith("registry:"))
    for k in ("ann_recall_audit", "dedup_prefix_jaccard", "kcore_peel"):
        m[f"queries.{k}_s"] = times.get(k, 0.0)
    m["queries.assoc_rules_shuffle_write_bytes"] = groups.get("registry:assoc_rules", GroupMetrics()).shuffle_write
    return m


# --- main ---------------------------------------------------------------------

WORKLOADS = {
    # K = 1: the reference's own daily batch size (about 15.7k transactions/day)
    "day_ref": {"kind": "day", "k": 1},
    "registry": {"kind": "registry"},
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"package {PKG} not found next to {HERE}; run from a full checkout", file=sys.stderr)
        return 2

    spec = WORKLOADS[args.workload]
    args.work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(args.work, ignore_errors=True)
    os.makedirs(args.work)
    launch_env(args.work)

    # inputs first, so set-up is timed on a quiet machine
    if spec["kind"] == "day":
        import corpus as C

        # first day (17-25 s on 4 cores) plus about --seconds of warm days
        # (7-10 s each): 3 at --seconds 30. A day varies by 5-10% on a quiet
        # host (7.4-8.2 s at no steal), so two warm days spread 0.10 of
        # their mean over ten seeds. A traced run does each day twice (run_day,
        # then its traced composition), so it keeps two warm days: with three
        # it took 122 s at 2% steal.
        n_days = 1 + (2 if args.trace else max(2, args.seconds // 10))
        corpus = C.new_corpus(os.path.join(args.work, "corpus"), args.seed, spec["k"])
        for _ in range(n_days):
            C.write_day(corpus)
    else:
        import stardata

        sf_dir = os.path.join(args.work, "star")
        stardata.write_star(sf_dir, args.seed, STAR_SF)

    event_dir = os.path.join(args.work, "events") if args.trace else None
    run_watch = Stopwatch()
    spark, get_spark_s = start_session(event_dir)
    result = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
    try:
        if spec["kind"] == "day":
            e2e, layers = workload_day(args, spark, corpus, n_days, result)
        else:
            e2e, layers = workload_registry(args, spark, sf_dir, result)
    finally:
        stop_session(spark)  # also flushes the event log

    print(f"# steal: {run_watch.stolen_share():.1%} of busy vCPU time over {run_watch.raw():.1f} s",
          file=sys.stderr)
    if args.trace:
        from spans import parse_event_log

        metrics = dict.fromkeys(PER_LAYER, 0.0)  # layers this workload does not run read 0
        metrics["session.get_spark_s"] = get_spark_s
        metrics.update(layers(parse_event_log(event_dir)))
    else:
        e2e["setup_s"] = get_spark_s
        metrics = {k: e2e[k] for k in END_TO_END}
    result["metrics"] = {k: {"value": float(v), "unit": unit(k)} for k, v in metrics.items()}
    result["correct"] = result["failed"] == 0
    shutil.rmtree(args.work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
