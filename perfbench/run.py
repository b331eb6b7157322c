#!/usr/bin/env python3
"""Benchmark for scikit_learn_imputer_spark.

Run from the repository root:

    python3 perfbench/run.py --workload impute_wide --seed 1 --seconds 10 --trace 0

One process, one ``local[nproc]`` session, one closed-loop client: each op
starts after the previous one has finished and been checked. The last line
of stdout is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. See perfbench/README.md for every definition.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import eventlog  # noqa: E402
import tables  # noqa: E402

NPROC = os.cpu_count() or 1
CHECKSUM_MOD = 2147483647

# ``min_ops`` fixes how many ops a run measures while an op takes longer
# than ``--seconds / min_ops``: a count that flipped with machine speed
# would change which ops the median sees. ``warmup_ops`` are run in
# set-up: on impute_rollout the first op after one warm-up was still
# 10-40% slower than the next, and it alone set op_s.tail.
WORKLOADS = {
    # Driver-sequencing bound: per-column round trips dominate.
    "impute_wide": {
        "rows": 2000, "n_cat": 1, "n_cont": 1, "n_full": 0,
        "op": "fit_transform", "min_ops": 3, "warmup_ops": 1,
    },
    # fit(transform=False) writes the models, transform() reads them back.
    "impute_rollout": {
        "rows": 2000, "n_cat": 1, "n_cont": 0, "n_full": 1,
        "op": "rollout", "min_ops": 2, "warmup_ops": 2,
    },
}

# Pinned registry queries, run once per traced run on the sf0.1 tables in
# ``SF_DIR``. Split between the two workloads, by their cost with the
# oracle check included (impute_rollout's set-up and ops are the slower),
# so that each traced run stays well inside its time limit.
REGISTRY = {
    "impute_wide": [
        "missing_metrics",
        "decontam_method_agreement",
        "corpus_preprocess_pipeline",
        "minhash_precision_audit",
        "bm25_compacted_topk",
        "quality_signal_corr",
    ],
    "impute_rollout": [
        "ffill_bfill",
        "filter_waterfall",
        "training_loader_funnel",
    ],
}
ALL_QUERIES = [q for qs in REGISTRY.values() for q in qs]
SF_DIR = os.path.join(HERE, "data", "sf0.1")


def log(msg: str) -> None:
    elapsed = time.time() - PROCESS_START
    print(f"[perfbench +{elapsed:.1f}s] {msg}", file=sys.stderr, flush=True)


# --------------------------------------------------------------- session
class Session:
    """Owns the SparkSession and its JVM; ``close`` stops both and waits."""

    def __init__(self, work: str):
        from scikit_learn_imputer_spark import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
            + os.path.join(work, "tmp"),
            # Read by the event-log writer that ``event_log`` attaches.
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
        self.spark = get_spark(
            "perfbench",
            master=f"local[{NPROC}]",
            shuffle_partitions=NPROC,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        from pyspark import SparkContext

        self.proc = getattr(SparkContext._gateway, "proc", None)

    def leftovers(self) -> tuple[int, int]:
        """(persisted RDDs, 1 if the CacheManager holds anything)."""
        jsc = self.spark.sparkContext._jsc
        cm = self.spark._jsparkSession.sharedState().cacheManager()
        return jsc.getPersistentRDDs().size(), 0 if cm.isEmpty() else 1

    def clear(self) -> None:
        self.spark.catalog.clearCache()
        jsc = self.spark.sparkContext._jsc
        for rdd in list(jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)

    def jvm_hwm_kb(self) -> int:
        return _hwm_kb(self.proc.pid) if self.proc else 0

    def close(self) -> None:
        """Stop the session and its JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        try:
            self.spark.stop()
        finally:
            if gateway is not None:
                gateway.shutdown()
            if self.proc is not None:
                self.proc.stdin.close()
                try:
                    self.proc.wait(timeout=60)
                except Exception:
                    self.proc.kill()
                    self.proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


def _hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


@contextlib.contextmanager
def event_log(sess: Session, log_dir: str):
    """Spark's own event-log writer (the ``EventLoggingListener`` that
    ``spark.eventLog.enabled`` installs at start-up), attached to the
    running context for the ``with`` block only, writing under
    ``log_dir``. Traced and untraced ops thus run in one warm JVM."""
    jvm = sess.spark._jvm
    sc = sess.spark.sparkContext._jsc.sc()
    os.makedirs(log_dir)
    writer = jvm.org.apache.spark.scheduler.EventLoggingListener(
        sc.applicationId(), jvm.scala.Option.empty(),
        jvm.java.net.URI("file://" + log_dir), sc.conf(),
        sc.hadoopConfiguration(),
    )
    writer.start()
    sc.addSparkListener(writer)
    try:
        yield
    finally:
        sc.listenerBus().waitUntilEmpty()  # the block's events are written
        sc.removeSparkListener(writer)
        writer.stop()


def start(work, meta, spec, seed, stats, t0):
    """Set-up: JVM start to a warm session, warmed by one checked op of the
    workload (the first parquet read and codegen and the first MLlib fits
    happen there). ``t0`` is when set-up began. Returns (session, workload,
    start_s, warmup_s)."""
    sess = Session(work)
    t1 = time.time()
    try:
        wl = Imputation(sess, meta, work, spec["op"], seed)
        for _ in range(spec["warmup_ops"]):
            run_op(sess, wl, stats)
    except BaseException:
        sess.close()
        raise
    log("session started and warmed up")
    return sess, wl, t1 - t0, time.time() - t1


# ------------------------------------------------------------- workloads
class Imputation:
    """The generated table, its checksums, and one op of the workload."""

    def __init__(self, sess: Session, meta: dict, work: str, kind: str,
                 seed: int):
        from pyspark.sql import functions as F

        self.sess, self.meta, self.work, self.kind, self.seed = (
            sess, meta, work, kind, seed,
        )
        self.targets = meta["categorical"] + meta["continuous"]
        self.checked = self.targets + meta["complete"]
        self.input = sess.spark.read.parquet(meta["path"])
        # Observed-cell checksum, taken once before any op runs.
        row = self.input.agg(
            *[self._checksum(F.col(c), F.col(c).isNotNull()).alias(c)
              for c in self.checked]
        ).collect()[0]
        self.checksums = row.asDict()
        self.last_models: dict = {}

    @staticmethod
    def _checksum(col, observed):
        from pyspark.sql import functions as F

        h = F.pmod(F.xxhash64(F.col("id"), col), F.lit(CHECKSUM_MOD))
        return F.sum(F.when(observed, h).otherwise(F.lit(0)))

    def imputer(self):
        from scikit_learn_imputer_spark import SparkImputer

        return SparkImputer(
            self.input,
            categorical=list(self.meta["categorical"]),
            save_models_to=os.path.join(self.work, "models"),
            class_threshold=30,
            id_col="id",
        )

    def op(self, spans: list | None = None) -> dict:
        """One op; returns its timings. ``spans`` collects ("op", t0, t1)."""
        from pyspark.ml.classification import LogisticRegression
        from pyspark.ml.regression import LinearRegression

        out = os.path.join(self.work, "out")
        clf = LogisticRegression(maxIter=5, tol=0.0)
        reg = LinearRegression()
        par = min(4, NPROC)
        t0 = time.time()
        imp = self.imputer()
        if self.kind == "fit_transform":
            res = imp.fit(clf, reg, transform=True, random_seed=self.seed,
                          parallelism=par)
            t_fit = time.time()
            imputed = res["imputed_data"]
        else:
            res = imp.fit(clf, reg, transform=False, random_seed=self.seed,
                          parallelism=par)
            t_fit = time.time()
            imputed = imp.transform()["imputed_data"]
        t_plan = time.time()
        imputed.write.mode("overwrite").parquet(out)
        t1 = time.time()
        if spans is not None:
            spans.append(("op", t0, t1))
        cols = [c for c in self.targets if c in res]
        self.last_models = {c: res[c]["trained_model"] for c in cols}
        rec = {
            "op_s": t1 - t0,
            "fit_s": t_fit - t0,
            "writeback_s": t1 - t_plan,
            "train_s": sum(res[c]["train_time"] for c in cols),
            "test_s": sum(res[c]["test_time"] for c in cols),
        }
        if self.kind == "rollout":
            rec["model_bytes"] = _dir_bytes(imp.save_models_to) / len(cols)
        return rec

    def check(self) -> str | None:
        """Outside the timed window: row count unchanged, no nulls left,
        observed cells unchanged, categorical imputations inside the
        observed label domain. Returns None when all hold."""
        from pyspark.sql import functions as F

        out = self.sess.spark.read.parquet(os.path.join(self.work, "out"))
        mask = self.input.select(
            F.col("id").alias("__id"),
            *[F.col(c).isNotNull().alias(f"__obs_{c}") for c in self.checked],
        )
        joined = out.join(mask, out["id"] == mask["__id"], "left")
        aggs = [F.count(F.lit(1)).alias("rows"),
                F.count("__id").alias("matched"),
                F.countDistinct("id").alias("ids")]
        for c in self.checked:
            aggs.append(F.count(c).alias(f"nonnull_{c}"))
            aggs.append(self._checksum(F.col(c), F.col(f"__obs_{c}"))
                        .alias(f"sum_{c}"))
        for c in self.meta["categorical"]:
            bad = (~F.col(f"__obs_{c}")) & ~F.col(c).isin(self.meta["domain"])
            aggs.append(F.sum(bad.cast("int")).alias(f"bad_{c}"))
        r = joined.agg(*aggs).collect()[0].asDict()
        n = self.meta["rows"]
        if r["rows"] != n or r["matched"] != n or r["ids"] != n:
            return (f"row count {r['rows']} (matched {r['matched']}, "
                    f"distinct ids {r['ids']}) != {n}")
        for c in self.checked:
            if r[f"nonnull_{c}"] != n:
                return f"{c}: {n - r[f'nonnull_{c}']} nulls left"
            if r[f"sum_{c}"] != self.checksums[c]:
                return f"{c}: observed cells changed"
        for c in self.meta["categorical"]:
            if r[f"bad_{c}"]:
                return f"{c}: {r[f'bad_{c}']} labels outside the domain"
        return None

    def cleanup(self) -> None:
        for d in ("models", "out"):
            shutil.rmtree(os.path.join(self.work, d), ignore_errors=True)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
    )


def run_op(sess: Session, wl: Imputation, stats: dict, spans=None):
    """One op, then its check and hygiene outside the timed window.
    Returns the op's record, or None when it failed."""
    rec = None
    try:
        rec = wl.op(spans)
        err = wl.check()
    except Exception as exc:  # an op that raises is a failed op
        err = f"{type(exc).__name__}: {str(exc)[:300]}"
    stats["attempted"] += 1
    if rec is not None:
        rec["leftover_rdds"], rec["leftover_cached"] = sess.leftovers()
    sess.clear()
    wl.cleanup()
    if err:
        stats["failed"] += 1
        log(f"op failed: {err}")
        if stats["failed"] > 3:
            raise RuntimeError("too many failed ops")
        return None
    return rec


def run_ops(sess: Session, wl: Imputation, seconds: float, min_ops: int,
            stats: dict) -> list[dict]:
    """Ops until ``seconds`` of op time and ``min_ops`` ops are measured."""
    records: list[dict] = []
    while sum(r["op_s"] for r in records) < seconds or len(records) < min_ops:
        rec = run_op(sess, wl, stats)
        if rec is not None:
            records.append(rec)
    return records


def tail(samples: list[float]) -> tuple[float, float, int]:
    """Highest nearest-rank percentile with >= 10 samples above it:
    (value, percentile, samples). Falls back to the maximum (p100) when a
    run has fewer than 11 samples."""
    s = sorted(samples)
    n = len(s)
    if n >= 11:
        return s[n - 11], 100.0 * (n - 10) / n, n
    return s[-1], 100.0, n


def med(records, key):
    return statistics.median(r[key] for r in records)


# -------------------------------------------------------------- registry
def registry_pass(sess: Session, names: list[str], seed: int, stats: dict,
                  spans: list) -> dict:
    """Each pinned query once, in an order fixed by ``seed``, forced by
    collecting its result. Returns {name: (seconds, rows, columns)}; a
    query that raises is a failed op and is left out."""
    import random

    from scikit_learn_imputer_spark.plans.queries import QUERIES

    order = list(names)
    random.Random(seed).shuffle(order)
    out = {}
    for name in order:
        t0 = time.time()
        try:
            sdf = QUERIES[name](sess.spark, SF_DIR)
            rows = [tuple(r) for r in sdf.collect()]
            out[name] = (time.time() - t0, rows, sdf.columns)
        except Exception as exc:
            stats["attempted"] += 1
            stats["failed"] += 1
            log(f"query {name} failed: {type(exc).__name__}: "
                f"{str(exc)[:300]}")
        spans.append((f"q:{name}", t0, time.time()))
        sess.clear()
    return out


def oracle_check(results: dict, stats: dict) -> None:
    """Compare each query's rows with its DuckDB ``ORACLE`` twin over
    ``SF_DIR`` by the oracle sweep's own order-insensitive compare. Runs
    after the Spark session has stopped, so it slows no measured call."""
    import duckdb
    from sf_oracle_sweep import _norm, _same

    from scikit_learn_imputer_spark.plans.queries import ORACLE

    con = duckdb.connect()
    for t in ("customer", "orders", "documents"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(SF_DIR, t + '.parquet')}')"
        )
    for name, (_s, rows, cols) in sorted(results.items()):
        stats["attempted"] += 1
        try:
            res = con.execute(ORACLE[name])
            ok = _same(_norm(rows, cols),
                       _norm(res.fetchall(), [d[0] for d in res.description]))
            err = None if ok else "differs from its oracle"
        except Exception as exc:
            err = f"{type(exc).__name__}: {str(exc)[:300]}"
        if err:
            stats["failed"] += 1
            log(f"query {name} failed: {err}")
    con.close()


# ------------------------------------------------------------ layer probes
def layer_probes(sess: Session, wl: Imputation) -> dict:
    """Standalone public calls on the workload's input, each forced with a
    noop write, plus MLlib model write/load of the last op's models."""
    from pyspark.ml import PipelineModel
    from pyspark.sql import functions as F

    from scikit_learn_imputer_spark.operators.encode import one_hot
    from scikit_learn_imputer_spark.operators.fill import ffill_bfill
    from scikit_learn_imputer_spark.operators.scale import minmax_scale
    from scikit_learn_imputer_spark.operators.split import split_exact
    from scikit_learn_imputer_spark.operators.update import scatter_update

    df = wl.input
    cats = wl.meta["categorical"]
    nums = wl.meta["continuous"] + wl.meta["complete"]
    # Split and scatter work on an imputed column, as the imputer does.
    target = wl.targets[-1]
    fill = F.lit(wl.meta["domain"][0] if target in cats else 0.0)
    imp = wl.imputer()

    def noop(*frames):
        for f in frames:
            f.write.format("noop").mode("overwrite").save()

    def split():
        observed = df.filter(F.col(target).isNotNull()).select("id")
        return split_exact(observed, 0.1, wl.seed, "id")

    updates = df.filter(F.col(target).isNull()).select(
        "id", fill.alias(target)
    )
    probes = {
        "imputer.missing_metrics_s": lambda: noop(imp.missing_metrics()),
        "imputer.create_features_s": lambda: noop(imp.create_features()),
        "operators.fill.ffill_bfill_s": lambda: noop(
            ffill_bfill(df, "id", wl.targets)
        ),
        "operators.encode.one_hot_s": lambda: noop(one_hot(df, cats)),
        "operators.scale.minmax_scale_s": lambda: noop(minmax_scale(df, nums)),
        "operators.split.split_exact_s": lambda: noop(*split()),
        "operators.update.scatter_update_s": lambda: noop(
            scatter_update(df, updates, "id", target)
        ),
    }
    out = {}
    for name, fn in probes.items():
        t0 = time.time()
        fn()
        out[name] = time.time() - t0
        sess.clear()

    model_dir = os.path.join(wl.work, "persist")
    t0 = time.time()
    for c, model in wl.last_models.items():
        model.write().overwrite().save(os.path.join(model_dir, c))
    t1 = time.time()
    for c in wl.last_models:
        PipelineModel.load(os.path.join(model_dir, c))
    t2 = time.time()
    out["ml_persist.save_s"], out["ml_persist.load_s"] = t1 - t0, t2 - t1
    shutil.rmtree(model_dir, ignore_errors=True)
    return out


# ------------------------------------------------------------------ main
def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # Size override, for the smoke test.
    ap.add_argument("--rows", type=int)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "scikit_learn_imputer_spark")):
        log(f"no scikit_learn_imputer_spark package under {ROOT}")
        return 2
    if args.trace and not os.path.isdir(SF_DIR):
        log(f"no registry tables under {SF_DIR}")
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "tools"))  # the oracle compare
    spec = dict(WORKLOADS[args.workload])
    if args.rows:
        spec["rows"] = args.rows

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d))
    # Everything Spark, the JVM and Python workers write stays in ``work``;
    # Python workers import the package from the checkout.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = os.path.join(work, "tmp")

    try:
        return run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_root)  # only succeeds once no other run uses it
        except OSError:
            pass


def run(args, spec: dict, work: str) -> int:
    t = time.time()
    shape = (spec["n_cat"], spec["n_cont"], spec["n_full"])
    meta = tables.mixed_table(
        os.path.join(work, "input.parquet"), spec["rows"], *shape,
        seed=args.seed,
    )
    gen_s = time.time() - t
    stats = {"attempted": 0, "failed": 0}

    # Input generation is not set-up: the clock starts after it.
    sess, wl, start_s, warm_s = start(work, meta, spec, args.seed, stats,
                                      PROCESS_START + gen_s)

    try:
        if not args.trace:
            records = run_ops(sess, wl, args.seconds, spec["min_ops"], stats)
            metrics = end_to_end(sess, wl, records, start_s + warm_s)
        else:
            records, metrics, queries = traced(sess, wl, args, work, stats)
    finally:
        sess.close()
    if args.trace:
        oracle_check(queries, stats)
        metrics["session.start_s"] = start_s
        metrics["session.warmup_s"] = warm_s
        metrics["sources.gen_s"] = gen_s

    ops = [r["op_s"] for r in records]
    _v, pct, n = tail(ops)
    log(
        f"{args.workload} seed={args.seed}: ops {[round(o, 2) for o in ops]}, "
        f"op_s.tail = p{pct:.0f} of {n} samples, "
        f"fail_ratio={stats['failed'] / max(stats['attempted'], 1):.4f}"
    )
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    result = {
        "correct": stats["failed"] == 0,
        "attempted": stats["attempted"],
        "failed": stats["failed"],
        "metrics": {
            m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
            for m in declared
        },
    }
    print(json.dumps(result), flush=True)
    return 0


def end_to_end(sess, wl, records, setup_s) -> dict:
    ops = [r["op_s"] for r in records]
    if wl.kind == "rollout":
        model_bytes = med(records, "model_bytes")
    else:
        # fit(transform=True) keeps its models in memory: write the last
        # op's models with the public MLlib writer, outside any timing.
        d = os.path.join(wl.work, "models_size")
        for c, model in wl.last_models.items():
            model.write().overwrite().save(os.path.join(d, c))
        model_bytes = _dir_bytes(d) / len(wl.last_models)
        shutil.rmtree(d, ignore_errors=True)
    rss_kb = _hwm_kb(os.getpid()) + sess.jvm_hwm_kb()
    return {
        "setup_s": setup_s,
        "op_s.p50": statistics.median(ops),
        "op_s.tail": tail(ops)[0],
        "cells_per_s": statistics.median(
            wl.meta["missing_cells"] / r["op_s"] for r in records
        ),
        "fit_save_s.p50": med(records, "fit_s"),
        "model_bytes": model_bytes,
        "peak_rss_mb": rss_kb / 1024.0,
    }


def traced(sess, wl, args, work, stats):
    """Untraced and traced ops alternate in the one warm session, in
    U T T U blocks so that JIT warm-up favours neither side, until the ops
    add up to ``--seconds``; Spark's event-log writer is attached for the
    traced ops only. Then the layer probes and the registry queries run
    traced. Layer figures are attributed to spans by time window. Returns
    (every op's record, the per-layer metrics, the query results)."""
    event_dir = os.path.join(work, "events")
    log_dirs = (os.path.join(event_dir, str(i)) for i in itertools.count())
    spans: list = []
    records: list = []
    sides: dict = {"U": [], "T": []}
    while (sum(r["op_s"] for r in records) < args.seconds
           or not sides["U"] or not sides["T"]):
        for side in "UTTU":
            if side == "T":
                with event_log(sess, next(log_dirs)):
                    rec = run_op(sess, wl, stats, spans)
            else:
                rec = run_op(sess, wl, stats)
            if rec is not None:
                sides[side].append(rec)
                records.append(rec)
    log("ops done")
    with event_log(sess, next(log_dirs)):
        out = layer_probes(sess, wl)
        log("layer probes done")
        queries = registry_pass(sess, REGISTRY[args.workload], args.seed,
                                stats, spans)
    events = eventlog.read_events(event_dir)

    op_layers = [eventlog.span_layers(events, a, b)
                 for name, a, b in spans if name == "op"]
    for key in op_layers[0]:
        out[key] = statistics.median(layer[key] for layer in op_layers)
    for q in ALL_QUERIES:
        out[f"plans.queries.{q}_s"] = queries[q][0] if q in queries else 0.0
        out[f"plans.queries.{q}_jobs"] = 0
    for name, a, b in spans:
        if name.startswith("q:"):
            jobs = eventlog.span_layers(events, a, b)["spark.jobs"]
            out[f"plans.queries.{name[2:]}_jobs"] = jobs
    traced_ops = sides["T"]
    for key in ("train_s", "test_s", "writeback_s"):
        out[f"imputer.{key}"] = med(traced_ops, key)
    out["bench.leftover_rdds"] = med(records, "leftover_rdds")
    out["bench.leftover_cached"] = med(records, "leftover_cached")
    out["bench.trace_overhead"] = (med(traced_ops, "op_s")
                                   / med(sides["U"], "op_s"))
    return records, out, queries


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as exc:
        log(f"failed: {type(exc).__name__}: {exc}")
        sys.exit(1)
