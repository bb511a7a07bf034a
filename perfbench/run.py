#!/usr/bin/env python3
"""Layered benchmark for the extraction job and the corpus build.

Drives the program only through its public functions
(``lineage.run_extraction_job``, ``jobs.corpus_build.run_corpus_build``,
``pipeline.extract_batch``/``extract_one``) on a session from
``session.get_spark``, checks every output, and prints one JSON result line.

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke          # all workloads, tiny inputs

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` is a separate
run that also times the layers and reports the per-layer metrics.
See perfbench/README.md for how to read them.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import checks
import probes
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

#: input turns per workload (corpus_build: base turns, before the planted
#: copies)
N_TURNS = {"extract_mixed": 12000, "extract_chat": 20000, "corpus_build": 3000}
SMOKE_N_TURNS = {"extract_mixed": 600, "extract_chat": 600, "corpus_build": 1500}
#: set-ups per run; setup_s is their median
SETUPS = 2
DRIVER_MEM = "1g"
#: per kernel group, at most this many turns are timed on one core
KERNEL_SAMPLE = 400

KERNEL_GROUPS = {
    "html": ("html", "xhtml", "xml"),
    "pdf": ("pdf", "pdf_text"),
    "pdf_b64": ("pdf_b64", "pdf_encrypted"),
    "ooxml_b64": ("docx_b64", "xlsx_b64", "pptx_b64"),
    "office_sidecar": ("doc", "docx", "xlsx", "pptx"),
    "image": ("png", "jpeg", "jpg", "tiff", "tif", "bmp", "webp"),
    "text_vector": ("markdown", "md", "plain", "text", "txt"),
}


def kernel_group(kind: str | None) -> str:
    k = (kind or "text").lower()
    for g, kinds in KERNEL_GROUPS.items():
        if k in kinds:
            return g
    return "other"


def job_mode(workload: str) -> str:
    # cli mode leaves extracted text independent of the per-turn name, so
    # the corpus build's re-emitted conversations are exact duplicates
    return "cli" if workload == "corpus_build" else "agent"


# -- environment and session --------------------------------------------------

def configure_env() -> None:
    """Run from any cwd: workers import the package through PYTHONPATH, and
    every temp file lands inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher included: no hsperfdata in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def spark_conf(trace: bool) -> dict[str, str]:
    tmp = os.path.join(WORK, "tmp")
    return {
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={tmp}",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
    }


def warm_up(spark, nproc: int) -> None:
    """One extraction pass over nproc partitions: every task slot spawns
    its Python worker and imports the kernels."""
    from pyspark.sql import functions as F

    from docling_gfcr_spark import pipeline

    df = spark.range(nproc * 8, numPartitions=nproc).select(
        F.format_string("warm-%04d", "id").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.when(F.col("id") % 2 == 0, F.lit("# Title\n\nbody text here."))
        .otherwise(F.lit("<html><body><article><p>body text</p></article></body></html>"))
        .alias("text"),
        F.when(F.col("id") % 2 == 0, F.lit("markdown")).otherwise(F.lit("html")).alias("tool"),
        F.current_timestamp().alias("ts"),
    )
    pipeline.extract_turns(df).write.format("noop").mode("overwrite").save()


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def setup(nproc: int, trace: bool) -> tuple[object, list[float]]:
    """``SETUPS`` full set-ups (JVM launch, session, warm-up pass); the last
    session is kept for the measurement."""
    from docling_gfcr_spark.session import get_spark

    times = []
    spark = None
    for i in range(SETUPS):
        if spark is not None:
            stop_spark(spark)
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", cores=nproc, extra_conf=spark_conf(trace))
        warm_up(spark, nproc)
        times.append(time.perf_counter() - t0)
    return spark, times


# -- the jobs under test --------------------------------------------------------

def run_job(spark, workload: str, inp: str, out_dir: str, storage_wrap=None) -> dict:
    """One invocation of the job a user submits, into a fresh ``out_dir``."""
    if workload == "corpus_build":
        from jobs.corpus_build import run_corpus_build

        return run_corpus_build(
            spark, spark.read.parquet(f"{inp}/input"),
            spark.read.parquet(f"{inp}/heldout.parquet"), out_dir, mode=job_mode(workload),
        )
    from docling_gfcr_spark import lineage

    storage = None
    if storage_wrap is not None:
        storage = storage_wrap(lineage.ParquetStorage(spark, out_dir))
    return lineage.run_extraction_job(
        spark, spark.read.parquet(f"{inp}/input"), out_dir, mode=job_mode(workload),
        storage=storage,
    )


# -- measurement ------------------------------------------------------------------

def timed_rep(spark, workload: str, inp: str, out_dir: str, storage_wrap=None) -> dict:
    """One timed job invocation: wall time from the first scan to the
    committed output, process-tree CPU, peak RSS and host noise."""
    shutil.rmtree(out_dir, ignore_errors=True)
    noise0, cpu0 = probes.host_noise(), probes.tree_cpu_s()
    with probes.RssSampler() as rss:
        start = time.time()
        t0 = time.perf_counter()
        report = run_job(spark, workload, inp, out_dir, storage_wrap)
        wall = time.perf_counter() - t0
    cpu = probes.tree_cpu_s() - cpu0
    noise1 = probes.host_noise()
    return {
        "report": report, "wall_s": wall, "start": start, "t0": t0, "cpu_s": cpu,
        "peak_rss_mb": rss.peak_mb,
        "steal_s": noise1["steal_s"] - noise0["steal_s"], "load1": noise1["load1"],
        # CPU the rest of the host used meanwhile: the contention behind a
        # slow wall time that no code change explains
        "others_cpu_s": noise1["busy_s"] - noise0["busy_s"] - cpu,
    }


def check_rep(spark, workload: str, rep: dict, out_dir: str, meta: dict, expected) -> tuple[list, dict]:
    if workload == "corpus_build":
        return checks.check_corpus(spark, rep["report"], out_dir, meta)
    return checks.check_extract(spark, rep["report"], out_dir, meta["n_turns"], expected)


def traced_layers(spark, workload: str, inp: str, out_dir: str, meta: dict,
                  expected) -> tuple[dict, list, list]:
    """One traced job invocation: spans at the lineage storage seam (or the
    stage lineage of the corpus build), Spark's stage and SQL metrics from
    the REST API, bytes written. Returns ``(metrics, problems, spans)``."""
    rest = probes.SparkRest(spark)
    spans = probes.Spans()
    stage0, sql0 = rest.max_ids()
    wrap = None if workload == "corpus_build" else (lambda s: probes.TimedStorage(s, spans))
    rep = timed_rep(spark, workload, inp, out_dir, wrap)
    problems, facts = check_rep(spark, workload, rep, out_dir, meta, expected)
    m = {"trace.turns_per_s": meta["n_turns"] / rep["wall_s"]}
    m.update(rest.stage_metrics(stage0))
    m.update(rest.python_metrics(sql0))
    n_files, n_bytes = probes.dir_usage(out_dir)
    m["lineage.files_written"] = n_files
    m["lineage.bytes_written_mb"] = n_bytes / 2**20
    m["lineage.wave_write_s"] = spans.total("lineage.wave_write")
    m["lineage.wave_commit_s"] = spans.total("lineage.wave_commit")
    m["lineage.resume_check_s"] = spans.total("lineage.resume_check")

    t0 = rep["start"]
    trace = [{"name": "job", "start": 0.0, "end": rep["wall_s"], "parent": None}]
    if workload == "corpus_build":
        at = facts["committed_at"]
        prev = t0
        for s in checks.STAGES:
            m[f"corpus_build.stage_s.{s}"] = at.get(s, prev) - prev
            trace.append({"name": f"stage.{s}", "start": prev - t0, "end": at.get(s, prev) - t0,
                          "parent": "job"})
            prev = at.get(s, prev)
            m[f"corpus_build.rows_out.{s}"] = facts["stage_rows"][s]
        planted = len(meta["exact_dups"]) + len(meta["near_dups"])
        rows = facts["stage_rows"]
        m["dedup.drop_share"] = (rows["assemble"] - rows["dedup_near"]) / planted
        covered = sum(m[f"corpus_build.stage_s.{s}"] for s in checks.STAGES)
    else:
        for s in checks.STAGES:
            m[f"corpus_build.stage_s.{s}"] = 0.0
            m[f"corpus_build.rows_out.{s}"] = 0
        m["dedup.drop_share"] = 0.0
        covered = sum(spans.total(n) for n in
                      ("lineage.wave_write", "lineage.wave_commit", "lineage.resume_check"))
        # perf_counter spans, re-based on the invocation start
        base = rep["t0"]
        trace += [{"name": n, "start": a - base, "end": b - base, "parent": "job"}
                  for n, a, b in spans.items]
    m["_covered_s"] = covered
    return m, problems, trace


def kernel_layer(inp: str, meta: dict, mode: str) -> dict:
    """µs per turn of ``pipeline.extract_batch`` on one core, per kernel
    group, over (a sample of) the workload's own turns."""
    import pyarrow.parquet as pq

    from docling_gfcr_spark import pipeline

    t = pq.read_table(f"{inp}/input", columns=["conv_id", "turn_idx", "text", "tool"]).to_pydict()
    groups: dict[str, list[int]] = {}
    for i, tool in enumerate(t["tool"]):
        g = groups.setdefault(kernel_group(tool), [])
        if len(g) < KERNEL_SAMPLE:
            g.append(i)
    counts: dict[str, int] = {}
    for kind, n in meta["kind_counts"].items():
        counts[kernel_group(kind)] = counts.get(kernel_group(kind), 0) + n
    out = {}
    cpu = 0.0
    for g in list(KERNEL_GROUPS) + ["other"]:
        idx = groups.get(g, [])
        us = 0.0
        if idx:
            texts = [t["text"][i] for i in idx]
            tools = [t["tool"][i] for i in idx]
            names = [checks.turn_name(t["conv_id"][i], t["turn_idx"][i]) for i in idx]
            best = float("inf")
            for _ in range(3):
                t0 = time.process_time()
                pipeline.extract_batch(texts, tools, names, mode)
                best = min(best, time.process_time() - t0)
            us = best / len(idx) * 1e6
        out[f"kernels.us_per_turn.{g}"] = us
        cpu += counts.get(g, 0) * us / 1e6
    out["kernels.cpu_s"] = cpu
    return out


def scan_layer(spark, inp: str) -> float:
    """Median wall time of a noop scan of the same input."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.read.parquet(f"{inp}/input").write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def measure(spark, workload: str, seed: int, seconds: float, trace: bool, nproc: int,
            n_turns: int) -> tuple[dict, dict]:
    """Generate (or reuse) the input, then invoke the job repeatedly for
    ``seconds``. Returns the result and the run's diagnostics."""
    t_prep = time.perf_counter()
    inp, meta = workloads.prepare(
        workload, seed, n_turns, os.path.join(WORK, "cache"), n_files=nproc)
    expected = None
    if workload != "corpus_build":
        expected = checks.oracle_digests(f"{inp}/input", job_mode(workload))
    prep_s = time.perf_counter() - t_prep
    out_dir = os.path.join(WORK, "out", workload)
    n_turns = meta["n_turns"]
    reps, traced, problems, spans = [], [], [], []
    attempted = failed = 0
    if trace:
        # the traced run compares traced with untraced invocations, so both
        # start warm
        timed_rep(spark, workload, inp, out_dir)
    t_end = time.perf_counter() + seconds
    while attempted < (2 if trace else 1) or time.perf_counter() < t_end:
        attempted += 1
        is_traced = trace and attempted % 2 == 1
        try:
            if is_traced:
                m, p, rep_spans = traced_layers(spark, workload, inp, out_dir, meta, expected)
                traced.append(m)
                spans.append(rep_spans)
            else:
                rep = timed_rep(spark, workload, inp, out_dir)
                p, facts = check_rep(spark, workload, rep, out_dir, meta, expected)
                rep["error_turns"] = facts["error_turns"]
                reps.append(rep)
        except Exception:
            p = ["job raised: " + traceback.format_exc(limit=3)]
        if p:
            failed += 1
            problems.extend(p)
    shutil.rmtree(out_dir, ignore_errors=True)
    metrics: dict = {}
    if reps:
        walls = [r["wall_s"] for r in reps]
        metrics = {
            "turns_per_s": statistics.median(n_turns / w for w in walls),
            "cpu_s_per_kturn": statistics.median(r["cpu_s"] / (n_turns / 1000) for r in reps),
            "peak_rss_mb": statistics.median(r["peak_rss_mb"] for r in reps),
            "ok_turn_share": 1 - statistics.median(r["error_turns"] for r in reps) / n_turns,
        }
    metrics["ok_run_share"] = (attempted - failed) / attempted
    diag = {
        "n_turns": n_turns, "prep_s": round(prep_s, 3), "reps": len(reps), "traced_reps": len(traced),
        "wall_s": [round(r["wall_s"], 4) for r in reps],
        "steal_s": [round(r["steal_s"], 3) for r in reps],
        "others_cpu_s": [round(r["others_cpu_s"], 3) for r in reps],
        "load1": [r["load1"] for r in reps],
        "problems": problems[:10],
    }
    if spans:
        diag["spans"] = spans
    layers = {}
    if trace and traced:
        layers = {k: statistics.median(m[k] for m in traced) for k in traced[0]}
        layers.update(kernel_layer(inp, meta, job_mode(workload)))
        layers["pipeline.scan_s"] = scan_layer(spark, inp)
        layers["pipeline.boundary_s"] = layers["pipeline.python_total_s"] - layers["kernels.cpu_s"]
        untraced = metrics.get("turns_per_s", 0.0)
        layers["trace.untraced_turns_per_s"] = untraced
        layers["trace.overhead_share"] = (
            1 - layers["trace.turns_per_s"] / untraced if untraced else 0.0)
        covered = layers.pop("_covered_s")
        layers["trace.coverage"] = covered * untraced / n_turns if untraced else 0.0
    return {"metrics": metrics, "layers": layers, "attempted": attempted,
            "failed": failed}, diag


# -- entry point ------------------------------------------------------------------

END_TO_END = ("turns_per_s", "cpu_s_per_kturn", "peak_rss_mb", "setup_s",
              "ok_turn_share", "ok_run_share")
UNITS = {"turns_per_s": "1/s", "cpu_s_per_kturn": "s", "peak_rss_mb": "MB",
         "setup_s": "s", "ok_turn_share": "share", "ok_run_share": "share"}


def layer_unit(name: str) -> str:
    if name.startswith("kernels.us_per_turn."):
        return "us"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("turns_per_s"):
        return "1/s"
    if name.endswith("_s") or ".stage_s." in name:
        return "s"
    if name.startswith(("corpus_build.rows_out.", "lineage.files_written")):
        return "count"
    return "ratio"


def program_present() -> bool:
    return all(os.path.isfile(os.path.join(ROOT, p)) for p in (
        "docling_gfcr_spark/lineage.py", "docling_gfcr_spark/session.py",
        "jobs/corpus_build.py"))


def run_one(workload: str, seed: int, seconds: float, trace: bool, n_turns: int) -> dict:
    nproc = len(os.sched_getaffinity(0))
    spark, setup_times = setup(nproc, trace)
    try:
        res, diag = measure(spark, workload, seed, seconds, trace, nproc, n_turns)
    finally:
        stop_spark(spark)
    res["metrics"]["setup_s"] = statistics.median(setup_times)
    diag.update(workload=workload, seed=seed, nproc=nproc, driver_mem=DRIVER_MEM,
                trace=int(trace), setup_s=[round(t, 4) for t in setup_times])
    return {"res": res, "diag": diag}


def result_line(out: dict, trace: bool) -> dict:
    res = out["res"]
    if trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(res["layers"].items())}
    else:
        metrics = {k: {"value": res["metrics"][k], "unit": UNITS[k]}
                   for k in END_TO_END if k in res["metrics"]}
    return {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def save_result(out: dict, line: dict) -> None:
    d = out["diag"]
    path = os.path.join(WORK, "results", f"{d['workload']}-s{d['seed']}-t{d['trace']}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"diagnostics": d, "result": line}, f, indent=1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(N_TURNS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once on tiny inputs, traced and untraced")
    args = ap.parse_args(argv)
    if not program_present():
        print(f"perfbench: the program's sources are not under {ROOT}", file=sys.stderr)
        return 2
    if not args.smoke and not args.workload:
        ap.error("--workload is required unless --smoke is given")
    configure_env()
    if args.smoke:
        ok = True
        for w in sorted(N_TURNS):
            for trace in (False, True):
                out = run_one(w, args.seed, 0, trace, SMOKE_N_TURNS[w])
                line = result_line(out, trace)
                save_result(out, line)
                print(json.dumps({"diagnostics": {k: v for k, v in out["diag"].items()
                                                  if k != "spans"}}))
                print(json.dumps({"workload": w, **line}))
                ok &= line["correct"]
        return 0 if ok else 1
    out = run_one(args.workload, args.seed, args.seconds, bool(args.trace), N_TURNS[args.workload])
    line = result_line(out, bool(args.trace))
    save_result(out, line)
    print(json.dumps({"diagnostics": {k: v for k, v in out["diag"].items() if k != "spans"}}))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
