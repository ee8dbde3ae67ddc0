"""Job-market benchmark: one workload in one fresh Python+JVM process.

    python3 perfbench/run.py --workload offer_chain --seed 1 --seconds 6 --trace 0

Run from the repository root. Inputs are generated from ``--seed``;
the program receives only the generated inputs. Human-readable lines
go first; the last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` the Spark UI is on, program calls are wrapped in spans,
and the metrics are the per-layer ones plus the tracing overhead.

Everything the run writes stays under the checkout: working data in
``.perfbench_work/`` (removed at exit), spans, untraced walls and fact
digests in ``.perfbench_out/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(1, str(ROOT))

import spans as T  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text()) if (ROOT / "BENCHMARK.json").exists() else None


def _configure_env(work: Path, nproc: int) -> None:
    """Process-wide settings, before pyspark is imported: Python
    workers must import the package (kafka_wire is a Python data
    source), every temp file stays under the checkout, and the driver
    heap fits the machine."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{_heap_gb()}g"
    import tempfile
    tempfile.tempdir = str(tmp)


def _heap_gb() -> int:
    """Driver heap: a quarter of RAM, at most 4g. The inputs are small
    and the machine is shared with other processes."""
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return max(1, min(4, mem_kb // 2**20 // 4))


def _spark_conf(work: Path, trace: bool) -> dict[str, str]:
    # initial heap up to 2g: below it, G1 grows the heap on GC timing,
    # which spread the JVM's peak RSS by ~15% between identical runs
    xms = min(2, _heap_gb())
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData -Xms{xms}g",
        "spark.ui.enabled": "true" if trace else "false",
    }
    if trace:
        conf.update({"spark.ui.port": "0", "spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    return conf


def _stop(spark) -> None:
    """Stop the session, the JVM and every Python worker, and wait for
    each to end."""
    from pyspark import SparkContext

    tree = [p for p in T.process_tree() if p != os.getpid()]
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 15
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}") and time.time() >= deadline:
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def _untraced_median(workload: str, args) -> float | None:
    """Median untraced ``wall_adj_s`` of this workload recorded by earlier
    ``--trace 0`` runs in this checkout; when there is none, one
    untraced run of the same seed is made first, in its own process."""
    path = ROOT / ".perfbench_out" / f"untraced-{workload}.jsonl"
    if not path.exists():
        subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.DEVNULL, timeout=170, check=False)
    if not path.exists():
        return None
    walls = [w for line in path.read_text().splitlines() if line
             for w in [json.loads(line).get("wall_adj_s")] if w is not None]
    return statistics.median(walls) if walls else None


def _layer_metrics(run, tracer, rest_counts, gc_s, load0, load1) -> dict:
    t_lo, t_hi = run.window
    n_it = run.layer.get("iterations") or 1
    span = lambda n: tracer.total(n, t_lo, t_hi) / n_it  # noqa: E731
    m = {
        "session.start_s": run.setup_parts.get("session.start_s", 0.0),
        "setup.generate_s": run.setup_parts.get("setup.generate_s", 0.0),
        "setup.corpus_s": run.setup_parts.get("setup.corpus_s", 0.0),
        "setup.warmup_s": run.setup_parts.get("setup.warmup_s", 0.0),
        "chain.parse_s": span("chain.parse"),
        "chain.skills_s": span("chain.skills"),
        "chain.salary_s": span("chain.salary"),
        "chain.dedup_s": span("chain.dedup"),
        "chain.sectors_s": span("chain.sectors"),
        "chain.self_s": tracer.self_time("chain", t_lo, t_hi) / n_it,
        "chain.dedup_keep_frac": run.layer.get("chain.dedup_keep_frac", 0.0),
        "chain.skills_per_offer": run.layer.get("chain.skills_per_offer", 0.0),
        "sources.publish_s": span("sources.publish"),
        "sources.quality_gate_s": span("sources.quality_gate"),
        "sources.files_written": run.layer.get("sources.files_written", 0),
        "sources.bytes_written_mb": run.layer.get("sources.bytes_written_mb", 0.0),
        "match.score_s": span("match.score"),
        "match.topk_s": span("match.topk"),
        "match.recount_s": tracer.self_time("match", t_lo, t_hi) / n_it,
        "match.pairs_scored": run.layer.get("match.pairs_scored", 0),
        "match.pairs_per_cv": run.layer.get("match.pairs_per_cv", 0.0),
        "match.topk_yield": run.layer.get("match.topk_yield", 0.0),
        "serve.recs_s": span("serve"),
        "serve.mmr_plan_s": span("serve.mmr"),
        "serve.land_s": span("serve.land"),
    }
    for k in ("ingest.land_s", "ingest.query_start_s", "ingest.latest_offset_ms",
              "ingest.add_batch_ms", "ingest.wal_commit_ms", "ingest.batches",
              "ingest.records_per_batch", "ingest.unlanded_records", "ingest.backlog_end",
              "ingest.generator_late_s", "serve.cvs_per_round", "serve.ckpt_frames"):
        m[k] = run.layer.get(k, 0)
    for g in T.SPARK_GROUP_NAMES:
        for k, v in rest_counts.get(g, {}).items():
            m[f"{g}.{k}"] = v
    m["jvm.gc_s"] = gc_s
    m["proc.cpu_util"] = run.layer.get("proc.cpu_util", 0.0)
    m["host.kernel_ms"] = run.host.kernel_s(t_lo, t_hi) * 1000.0
    top = sum(e - s for _, s, e, p, _ in tracer.spans if p is None and s >= t_lo and e <= t_hi)
    m["trace.unaccounted_s"] = (t_hi - t_lo - top) / n_it
    m["proc.loadavg_before"] = load0
    m["proc.loadavg_after"] = load1
    for k, v in run.inputs.items():
        m[k] = v
    return m


def _wrap_program(tracer) -> None:
    """Spans around the program's public calls (run-time patching)."""
    from bigdata_jobmatching_spark import orchestrate as O
    from bigdata_jobmatching_spark.operators import similarity_search as ANN
    from bigdata_jobmatching_spark.plans import domain_queries as DQ
    from bigdata_jobmatching_spark.sources import manifest as MF

    stage = {"jobs_parsed": "chain.parse", "skills_enriched": "chain.skills",
             "salaries_enriched": "chain.salary", "deduplicated": "chain.dedup",
             "sectors_enriched": "chain.sectors", "matching_scores": "match.score",
             "top_matches": "match.topk"}
    tracer.wrap(O, "write_stage",
                lambda a, k: stage.get(os.path.basename(str(a[1]).rstrip("/")), "sources.write"))
    tracer.wrap(MF, "audit_then_publish", "sources.publish")
    tracer.wrap(O, "quality_check", "sources.quality_gate")
    tracer.wrap(O, "match_lakes", "match")
    tracer.wrap(DQ, "candidate_recs_for", "serve.recs")
    tracer.wrap(ANN, "mmr_greedy", "serve.mmr")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if SPEC is None or not (ROOT / "bigdata_jobmatching_spark" / "__init__.py").is_file():
        print("perfbench: run from the repository root; the bigdata_jobmatching_spark "
              "package and BENCHMARK.json must be there", file=sys.stderr)
        return 2
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    untraced_ref = _untraced_median(args.workload, args) if trace else None

    nproc = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"{args.workload}-s{args.seed}-p{os.getpid()}"
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        return _run(args, trace, nproc, work, out_dir, untraced_ref, W)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, trace, nproc, work, out_dir, untraced_ref, W) -> int:
    _configure_env(work, nproc)
    load0 = T.loadavg()
    from bigdata_jobmatching_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}", cpus=nproc,
                      extra_conf=_spark_conf(work, trace))
    session_s = T.process_age_s()
    tracer = T.Tracer(spark.sparkContext if trace else None, enabled=trace)
    if trace:
        _wrap_program(tracer)
    run = W.Run(spark, work, args.seed, args.seconds, tracer, nproc)
    run.setup_parts["session.start_s"] = session_s
    rest = T.SparkRest(spark.sparkContext) if trace else None
    ok = True
    gc0 = rest.gc_s() if rest else 0.0
    run.host = T.HostSpeed(work / "host_speed.txt")
    try:
        run.host.start()
        W.WORKLOADS[args.workload](run)
    except Exception:
        traceback.print_exc()
        ok = False
    finally:
        run.host.stop()
    tree = T.process_tree()
    rss = T.vm_hwm_mb(tree)
    peak_rss = sum(rss.values())
    rest_counts, gc_s = {}, 0.0
    if rest is not None and ok:
        rest_counts = rest.group_counts(
            lambda g: T.report_group(g, run.stream_run_ids))
        gc_s = rest.gc_s() - gc0
    t_stop = time.perf_counter()
    _stop(spark)
    stop_s = time.perf_counter() - t_stop
    load1 = T.loadavg()
    if not ok:
        print("perfbench: workload failed before producing its metrics", file=sys.stderr)
        return 1

    setup_s = (run.setup_parts["session.start_s"] + run.setup_parts.get("setup.corpus_s", 0.0)
               + run.setup_parts.get("setup.warmup_s", 0.0))
    run.e2e["setup_s"] = setup_s
    run.e2e["peak_rss_mb"] = peak_rss
    fail_frac = run.failed / max(run.attempted, 1)
    # landed_by_next_round is the latency contract the availableNow drain
    # defect breaks; it counts in `failed`, not in `correct`
    correct = all(f == 0 for name, _, f, _ in run.checks if name != "landed_by_next_round")

    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds} "
          f"trace {int(trace)} nproc {nproc} loadavg {load0:.2f} -> {load1:.2f}")
    units = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    for k in sorted(run.e2e):
        print(f"  {k:28s} {run.e2e[k]:.6g} {units.get(k, 's' if k.endswith('_s') else '')}")
    print(f"  {'fail_frac':28s} {fail_frac:.6g} ratio ({run.failed}/{run.attempted})")
    print(f"  {'host.kernel_ms':28s} {run.host.kernel_s(*run.window) * 1000:.6g} ms "
          f"(reference {T.KERNEL_REF_S * 1000:g} ms; *_adj_s = time at the reference speed)")
    for k in sorted(run.inputs):
        print(f"  {k:28s} {run.inputs[k]:.6g}")
    print("  peak_rss by process " + " ".join(f"{k}={v:.0f}" for k, v in rss.items()))
    for k in sorted(run.setup_parts):
        print(f"  {k:28s} {run.setup_parts[k]:.6g} s")
    print(f"  {'checks_s':28s} {t_stop - run.window[1]:.6g} s (after the timed work)")
    print(f"  {'stop_s':28s} {stop_s:.6g} s (session, JVM and workers stopped)")
    for name, att, f, detail in run.checks:
        print(f"  check {name:30s} {att - f}/{att} ok {detail}")

    if trace:
        tracer.dump(str(out_dir / f"spans-{args.workload}-s{args.seed}.json"))
        metrics = _layer_metrics(run, tracer, rest_counts, gc_s, load0, load1)
        # both walls at the reference host's speed, so host drift between
        # the two processes does not read as tracing overhead
        wall = run.e2e["wall_adj_s"]
        metrics["trace.wall_s"] = wall
        metrics["trace.bookkeeping_s"] = tracer.bookkeeping_s
        if untraced_ref is None:
            print("perfbench: no untraced wall_adj_s to compare; trace.overhead_s "
                  "reports the tracer's own bookkeeping time", file=sys.stderr)
        metrics["trace.overhead_s"] = (wall - untraced_ref if untraced_ref is not None
                                       else tracer.bookkeeping_s)
        units = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
        names = list(units)
        # layers a workload does not exercise read 0
        metrics = {n: metrics.get(n, 0.0) for n in names}
    else:
        with open(out_dir / f"untraced-{args.workload}.jsonl", "a") as f:
            f.write(json.dumps({"seed": args.seed, "wall_s": run.e2e["wall_s"],
                                "wall_adj_s": run.e2e["wall_adj_s"]}) + "\n")
        metrics = run.e2e
        names = list(units)
    missing = [n for n in names if n not in metrics]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 1
    if trace:
        for n in names:
            print(f"  {n:36s} {metrics[n]:.6g} {units[n]}")
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in names},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
