"""End-to-end and per-layer benchmark of the sentiment engine.

Run from the repository root:

    python3 perfbench/run.py --workload etl_10x --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Workloads (closed loops, one client, one process, a local[nproc] session):

  etl_10x      plans.pipeline.write_processed over the generated sf0.1-shaped
               corpus inflated 10x (50k docs, unique texts), as the hourly
               job runs it: one batch in a fresh session. The lexicon kernel
               and the partitioned parquet write do most of the work.
  news_stream  streaming.ingest.run_sentiment_stream (EP1+EP2+EP3) draining
               NewsAPI/GNews poll files one micro-batch at a time. Per-epoch
               costs dominate: file listing, envelope parsing, the URL
               anti-join against a growing sink, localCheckpoint, two appends.

--trace 0 prints the end-to-end metrics: setup_s, items_per_s and
latency_p50_s, and the latency tail where the samples support one.
--trace 1 runs the traced pass instead
and prints the per-layer metrics of every layer, the ES query mix and the
curated stream included; see perfbench/README.md. The last stdout line is
one JSON object {correct, attempted, failed, metrics}. Every operation's
output is checked outside the timed region.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PKG = "sentiment_analysis_data_pipeline_spark"
WORKLOADS = ("etl_10x", "news_stream")
ITEM_UNIT = {"etl_10x": "docs", "news_stream": "envelopes"}
SETUP_REPEATS = 5
# Traced micro-batches: more when news_stream is the traced workload, fewer
# beside the 10x ETL so a traced run stays well inside its time limit.
NEWS_BATCHES = {True: 4, False: 2}
# The traced passes the ETL is cut into, in order.
ETL_CUT = ("sources.scan_validate", "sentiment.processed_docs", "pipeline.write_processed")


def box() -> dict:
    """Cores from the scheduler affinity mask (nproc without the
    OMP_NUM_THREADS override) and a driver heap of a quarter of physical
    memory, clamped to [1, 8] GiB, in place of session.py's 24g default."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal")) // 1024
    return {"cpus": cpus, "mem_total_mb": mem_mb, "driver_memory_mb": max(1024, min(8192, mem_mb // 4))}


def configure(work: str, cfg: dict) -> None:
    """Session sizing through the program's own variables, and every
    scratch file (Python, JVM, Spark local dirs) inside the work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cfg["cpus"]),
        SPARK_DRIVER_MEMORY=f"{cfg['driver_memory_mb']}m",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=(
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    )
    tempfile.tempdir = None


def start_session():
    from sentiment_analysis_data_pipeline_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def setup(family, work: str, seed: int):
    """SETUP_REPEATS times: (re)start the session and regenerate the
    inputs; then warm up once. Returns (spark, family, figures)."""
    spark, fam, reps = None, None, []
    for k in range(SETUP_REPEATS):
        t0 = T_PROCESS if k == 0 else time.perf_counter()
        if spark is not None:
            spark.stop()
        shutil.rmtree(os.path.join(work, "in"), ignore_errors=True)
        spark = start_session()
        fam = family(os.path.join(work, "in"), seed)
        fam.make_inputs()
        reps.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    fam.warm_up(spark)
    warm = time.perf_counter() - t0
    return spark, fam, {"cold_start_s": reps[0], "start_s": statistics.median(reps), "warm_up_s": warm}


def run_ops(op, check, seconds: float, clock=time.perf_counter) -> dict:
    """Closed loop: start operations until `seconds` have passed on `clock`
    (at least one), checking each result after its timing. `op()` returns
    (wall seconds, [(latency seconds, items)], result)."""
    lat, items, busy, attempted, failed = [], 0, 0.0, 0, 0
    t0 = clock()
    while attempted == 0 or clock() - t0 < seconds:
        try:
            wall, samples, result = op()
        except Exception:
            traceback.print_exc()
            attempted += 1
            failed += 1
            continue
        attempted += 1
        busy += wall
        lat += [s for s, _ in samples]
        items += sum(n for _, n in samples)
        failed += not check(result)
    return {"lat": lat, "items": items, "busy": busy, "attempted": attempted, "failed": failed}


def measure(workload: str, work: str, seed: int, seconds: float) -> dict:
    import stats
    import workloads as W

    family = W.Etl if workload == "etl_10x" else W.News
    spark, fam, st = setup(family, work, seed)
    try:
        res = run_ops(lambda: fam.op(spark), fam.check, seconds)
    finally:
        stop_jvm(spark)
    if not res["lat"]:
        raise RuntimeError(f"{workload}: every operation failed")
    summary = stats.summarize(res["lat"], res["items"], res["busy"], res["attempted"], res["failed"])
    return {"setup": st, "summary": summary, "attempted": res["attempted"], "failed": res["failed"]}


def traced(workload: str, work: str, seed: int) -> dict:
    """One pass over every layer with spans around the public calls, the
    traced workload's own family first:

      etl      one untraced write_processed, then the ETL cut; at 10x when
               etl_10x is traced, else at 1x;
      news     when news_stream is traced, its warm-up micro-batches and
               one untraced micro-batch; then NEWS_BATCHES traced ones
               (the first of them cold when news_stream is not traced);
      curated  from a bootstrapped corpus and band index, two untraced
               run_curated_ingest epochs (the first warms up), then one
               cut epoch;
      queries  one traced round of the ES query mix.

    Each family records (untraced wall, traced wall) in `overhead`. The
    query oracles run on a background thread once the traced workload's
    own family is done, so they never overlap its spans."""
    import workloads as W
    from spans import Tracer

    tr = Tracer(run_id=f"{workload}-seed{seed}-pid{os.getpid()}")
    with tr.span("session.start"):
        spark = start_session()
    ok, attempted, overhead, q_rows = [], 0, {}, []
    etl = W.Etl(os.path.join(work, "etl"), seed)
    etl.make_inputs()
    q = W.Queries(etl.sf)

    def etl_family():
        nonlocal attempted
        etl_ok, untraced = etl.traced(spark, tr, etl.big if workload == "etl_10x" else etl.sf)
        ok.append(etl_ok)
        attempted += 2
        cut = sum(tr.total(n) for n in ETL_CUT)
        overhead["etl"] = (untraced, cut)

    def news_family():
        nonlocal attempted
        news = W.News(os.path.join(work, "news"), seed)
        news.make_inputs()
        news.warm_up(spark, W.NEWS_WARM_BATCHES if workload == "news_stream" else 0)
        if workload == "news_stream":
            untraced = news.op(spark)[0]
            ok.append(news.check())
            attempted += 1
        n_batches = NEWS_BATCHES[workload == "news_stream"]
        with tr.span("news"):
            news_ok, traced_wall = news.traced(spark, tr, n_batches)
        ok.append(news_ok)
        attempted += n_batches
        if workload == "news_stream":
            overhead["news"] = (untraced, traced_wall)

    def curated_family():
        nonlocal attempted
        cur = W.Curated(os.path.join(work, "curated"), seed)
        try:
            cur.bootstrap(spark)
            for k in range(2):
                untraced = cur.op(spark, k)
                ok.append(cur.check(spark))
            cur.traced(spark, tr)
            ok.append(cur.check(spark))
            attempted += 3
            overhead["curated"] = (untraced, tr.total("curated"))
        finally:
            cur.close(spark)

    def query_family():
        nonlocal attempted
        with tr.span("queries"):
            q_rows.extend(q.traced(spark, tr, seed))
        attempted += len(q_rows)

    families = [etl_family, news_family, curated_family, query_family]
    if workload == "news_stream":
        families[:2] = families[1::-1]
    try:
        for i, family in enumerate(families):
            family()
            if i == 0:
                q.start_oracle()
        ok.append(all(q.check(name, rows) for name, rows in q_rows))
    finally:
        q.close()
        stop_jvm(spark)
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    tr.write(os.path.join(ROOT, ".perfbench", f"trace-{workload}-seed{seed}.json"))
    return {"tracer": tr, "ok": ok, "attempted": attempted, "overhead": overhead}


def layer_metrics(tr) -> dict:
    import workloads as W

    t, c = tr.total, tr.counts
    m = {
        "session.start_s": (t("session.start"), "s"),
        "sources.scan_validate_s": (t("sources.scan_validate"), "s"),
        "sources.rows_in": (c["sources.rows_in"], "count"),
        "validate.rows_kept": (c["validate.rows_kept"], "count"),
        "sentiment.kernel_s": (t("sentiment.processed_docs") - t("sources.scan_validate"), "s"),
        "sentiment.token_rows": (c["sentiment.token_rows"], "count"),
        "sentiment.lexicon_hit_frac": (c["sentiment.lexicon_hit_frac"], "fraction"),
        "pipeline.write_s": (t("pipeline.write_processed") - t("sentiment.processed_docs"), "s"),
        "pipeline.files_written": (c["pipeline.files_written"], "count"),
        "pipeline.bytes_written_per_input_byte": (c["pipeline.bytes_written_per_input_byte"], "ratio"),
    }
    for k in ("add_batch_s", "latest_offset_s", "get_batch_s", "query_planning_s", "wal_commit_s"):
        m[f"stream.{k}"] = (c[f"stream.{k}"], "s")
    for k, u in (("input_rows", "count"), ("fresh_frac", "fraction"), ("corrupt_rows", "count"), ("sink_rows_end", "count")):
        m[f"stream.{k}"] = (c[f"stream.{k}"], u)
    for span in ("curation.gate", "dedup_stream.probe", "dedup_stream.index_append", "curated.sentiment", "curated.land"):
        m[f"{span}_s"] = (t(span), "s")
    m["curation.kept_frac"] = (c["curation.kept_frac"], "fraction")
    m["dedup_stream.pairs_out"] = (c["dedup_stream.pairs_out"], "count")
    m["dedup_stream.index_rows_end"] = (c["dedup_stream.index_rows_end"], "count")
    for phase in ("build", "plan", "exec"):
        m[f"query.{phase}_s"] = (sum(t(f"query.{n}.{phase}") for n in W.QUERY_MIX), "s")
    for n in W.QUERY_MIX:
        for phase in ("build", "plan", "exec"):
            m[f"query.{n}.{phase}_s"] = (t(f"query.{n}.{phase}"), "s")
        m[f"query.{n}.rows_out"] = (c[f"query.{n}.rows_out"], "count")
    return m


def emit(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )


def report_measure(workload: str, res: dict) -> dict:
    s, st = res["summary"], res["setup"]
    unit = ITEM_UNIT[workload]
    setup_s = st["start_s"] + st["warm_up_s"]
    tail = (
        f"p{s['tail_percentile']:g} {s['latency_tail_s']:.4f} s"
        if s["tail_percentile"] is not None
        else f"no percentile has 10 samples beyond it; largest sample {s['latency_tail_s']:.4f} s"
    )
    print(f"setup_s {setup_s:.3f} s (median of {SETUP_REPEATS} session starts + input generation "
          f"{st['start_s']:.3f} s, warm-up {st['warm_up_s']:.3f} s; cold process start to ready "
          f"{st['cold_start_s'] + st['warm_up_s']:.3f} s)")
    print(f"items_per_s {s['items_per_s']:.3f} {unit}/s")
    print(f"latency_p50_s {s['latency_p50_s']:.4f} s (n={s['samples']}: {' '.join(f'{x:.3f}' for x in s['latency_samples'])})")
    print(f"tail: {tail} (n={s['samples']})")
    print(f"failed_frac {s['failed_frac']:g} ({res['failed']}/{res['attempted']})")
    print(f"check: {'PASS' if res['failed'] == 0 else 'FAIL'}", flush=True)
    return {
        "setup_s": (setup_s, "s"),
        "items_per_s": (s["items_per_s"], "items/s"),
        "latency_p50_s": (s["latency_p50_s"], "s"),
    }


# What the traced wall of each family holds beside its untraced one.
OVERHEAD = {
    "etl": "cost of the cut: the three cut passes, after one untraced write_processed",
    "news": "the median traced micro-batch drain, after one untraced micro-batch",
    "curated": "cost of the cut: the cut epoch of the third drop, after untraced "
               "run_curated_ingest epochs of the first two",
}


def report_traced(res: dict) -> dict:
    """Print each family's layer self times, with its untraced wall beside
    its traced wall where both were measured; return the per-layer
    metrics."""
    tr = res["tracer"]
    self_s = tr.self_times()
    families = {
        "etl": ETL_CUT,
        "news": ("news.drain",),
        "curated": ("curated", "curation.gate", "dedup_stream.probe", "curated.sentiment",
                    "dedup_stream.index_append", "curated.land"),
        "queries": ("build", "plan", "exec"),
    }
    for fam, names in families.items():
        if fam == "queries":
            parts = [f"query.{p} {sum(v for k, v in self_s.items() if k.startswith('query.') and k.endswith('.' + p)):.3f} s"
                     for p in names]
        else:
            parts = [f"{n} {self_s.get(n, 0.0):.3f} s" for n in names]
        line = f"trace {fam}: self " + ", ".join(parts)
        if fam in res["overhead"]:
            u, t = res["overhead"][fam]
            line += (f" | untraced wall {u:.3f} s, traced wall {t:.3f} s, "
                     f"tracing overhead {t - u:.3f} s ({OVERHEAD[fam]})")
        print(line)
    print(f"check: {'PASS' if all(res['ok']) else 'FAIL'}", flush=True)
    return layer_metrics(tr)


def run_all(args) -> int:
    rc = 0
    for w in WORKLOADS:
        print(f"== {w}", flush=True)
        rc |= subprocess.call(
            [sys.executable, __file__, "--workload", w, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)]
        )
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")) or not os.path.isfile(
        os.path.join(ROOT, "tools", "selfcheck.py")
    ):
        print(f"perfbench: run from the repository root ({PKG}/ and tools/ not found in {ROOT})", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    sys.path[:0] = [ROOT, HERE]
    cfg = box()
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    configure(work, cfg)
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace} "
          f"cpus={cfg['cpus']} driver_memory={cfg['driver_memory_mb']}m mem_total={cfg['mem_total_mb']}m", flush=True)
    try:
        if args.trace:
            res = traced(args.workload, work, args.seed)
            metrics = report_traced(res)
            correct = all(res["ok"])
            emit(correct, res["attempted"], len(res["ok"]) - sum(res["ok"]), metrics)
        else:
            res = measure(args.workload, work, args.seed, args.seconds)
            metrics = report_measure(args.workload, res)
            emit(res["failed"] == 0, res["attempted"], res["failed"], metrics)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
