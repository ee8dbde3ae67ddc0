"""The benchmark's three workloads, each driving product entry points.

- ``offer_chain``: a day-batch of raw offer JSON through
  ``orchestrate.run_staged_pipeline`` — every stage landing, the WAP
  warehouse publish and the strict quality gate — in a fresh process,
  as the daily batch job runs: a fixed number of passes, one at the
  benchmark's ``--seconds``, the first of them cold.
- ``match_topk``: an enriched offer lake and a normalized CV lake
  through ``orchestrate.match_lakes`` (prefiltered matcher, top-20),
  a fixed number of times after one warm-up pass.
- ``cv_arrivals``: an open loop. A generator thread appends CVs to a
  ``kafka_wire`` topic at a fixed rate; rounds run back to back, each
  landing what is available with
  ``streaming.ingest.stream_kafka_cvs_to_lake`` (availableNow) and
  serving the round's CVs with ``candidate_recs_for`` against a frozen
  offer corpus, one overwrite landing per round. The timed work opens
  with a consumer-restart catch-up whose backlog exceeds the
  per-trigger cap, after a small warm-up round in set-up; the
  generator starts once the catch-up has landed.

Each workload records its end-to-end figures, per-layer figures and
output checks on the :class:`Run`; every failed check or raised call
counts in ``failed``. ``attempted`` counts only operations whose number
is fixed by the seed and ``--seconds`` (calls, records, sampled
checks), so two runs of one seed attempt the same number; rounds, whose
number depends on speed, count only when they raise.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import threading
import time
import traceback
from pathlib import Path

import gen
import spans as T

SETUP_REPS = 3

CHAIN_RAW_OFFERS = 2500         # one scraped day-batch
CHAIN_PASS_S = 10.0             # --seconds per timed chain pass
MATCH_OFFERS = 1500
MATCH_CVS = 1500
MATCH_TOP_K = 20
MATCH_PASS_S = 2.0              # --seconds per timed match_lakes pass
MATCH_DF_FRAC = 0.5             # match_lakes' default cap
MATCH_SAMPLE_CVS = 25
MATCH_SAMPLE_PAIRS = 200
SERVE_OFFERS = 3000
BACKLOG = 12_500                # five days down at ~2,500 CVs/day
ARRIVAL_RATE = 250.0            # CVs per second, open loop
ARRIVAL_PARTITIONS = 2
TOPIC = "candidate_cvs_raw"
SERVE_SAMPLE_CVS = 100
WARMUP_CVS = 200
MAX_DRAIN_ROUNDS = 4


class Run:
    """Per-run state shared by the workloads and the reporter."""

    def __init__(self, spark, work: Path, seed: int, seconds: float, tracer,
                 nproc: int) -> None:
        self.spark = spark
        self.nproc = nproc
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.checks: list[tuple[str, int, int, str]] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.inputs: dict[str, float] = {}
        self.setup_parts: dict[str, float] = {}
        self.window: tuple[float, float] = (0.0, 0.0)
        self.stream_run_ids: set[str] = set()
        self.host: T.HostSpeed | None = None
        self._cpu0 = 0.0

    def begin_window(self) -> float:
        """Start of the timed work: also the end of set-up."""
        self._cpu0 = T.tree_cpu_s(T.process_tree())
        t = time.perf_counter()
        self.window = (t, t)
        return t

    def end_window(self) -> None:
        t = time.perf_counter()
        self.window = (self.window[0], t)
        cpu = T.tree_cpu_s(T.process_tree()) - self._cpu0
        self.layer["proc.cpu_util"] = cpu / max((t - self.window[0]) * self.nproc, 1e-9)

    def host_factor(self, t_lo: float, t_hi: float) -> float:
        """Multiplier taking a time measured between two perf_counter
        readings to the reference host's speed."""
        return self.host.factor(t_lo, t_hi) if self.host is not None else 1.0

    def check(self, name: str, attempted: int, failed: int, detail: str = "",
              count: bool = True) -> None:
        """Record an output check. ``count=False`` re-checks operations
        already counted (it still decides ``correct``)."""
        if count:
            self.attempted += attempted
            self.failed += failed
        self.checks.append((name, attempted, failed, detail))

    def op(self, name: str, fn, *a, count: bool = True, **k):
        """Run one operation; a raise counts as one failure.
        ``count=False`` leaves a successful call out of ``attempted``
        (for operations whose number depends on speed)."""
        try:
            out = fn(*a, **k)
        except Exception:
            traceback.print_exc()
            self.check(name, 1, 1, "raised")
            return None
        self.attempted += int(count)
        return out


def _tree_bytes(*roots: Path, suffix: str = "") -> tuple[int, int]:
    files = size = 0
    for root in roots:
        for dirpath, _, names in os.walk(root):
            for n in names:
                if n.endswith(suffix) and not n.startswith((".", "_")):
                    files += 1
                    size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def _timed_reps(run: Run, prepare) -> object:
    """Run the set-up ``SETUP_REPS`` times and keep the median time;
    the last repetition's inputs are used."""
    times, out = [], None
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        with run.tracer.span("setup.corpus"):
            out = prepare(rep)
        times.append(time.perf_counter() - t0)
    run.setup_parts["setup.corpus_s"] = statistics.median(times)
    return out


def _p99(values: list[float]) -> float:
    return (statistics.quantiles(values, n=100, method="inclusive")[98]
            if len(values) > 1 else values[0])


def _batch_latency(run: Run, walls: list[float], adj: list[float]) -> None:
    """A batch lands all its records together, so every record's
    latency is its iteration's wall: the record-weighted percentiles
    are percentiles of the (equal-sized) iterations' walls. ``adj``
    holds the same walls at the reference host's speed."""
    for suffix, v in (("s", walls), ("adj_s", adj)):
        run.e2e[f"wall_{suffix}"] = statistics.median(v)
        run.e2e[f"arrival_latency_p50_{suffix}"] = statistics.median(v)
        run.e2e[f"arrival_latency_p99_{suffix}"] = _p99(v)


def _timed_passes(run: Run, n: int, one_pass) -> tuple[list, list[float], list[float]]:
    """``n`` back-to-back calls of ``one_pass(i)`` in the timed window:
    their results, walls, and walls at the reference host's speed."""
    results, walls, adj = [], [], []
    run.begin_window()
    for i in range(n):
        t0 = time.perf_counter()
        r = one_pass(i)
        t1 = time.perf_counter()
        if r is not None:
            results.append(r)
            walls.append(t1 - t0)
            adj.append((t1 - t0) * run.host_factor(t0, t1))
    run.end_window()
    if not results:
        raise RuntimeError("no timed pass succeeded")
    return results, walls, adj


# ------------------------------------------------------- offer_chain ---

def offer_chain(run: Run) -> None:
    from bigdata_jobmatching_spark import orchestrate as O
    from bigdata_jobmatching_spark.schemas import JOB_RAW_SCHEMA
    from bigdata_jobmatching_spark.sources import versioned as V
    from bigdata_jobmatching_spark.sources.io import read_json_records
    from pyspark.sql import functions as F

    spark = run.spark

    def prepare(rep: int):
        t0 = time.perf_counter()
        g = gen.gen_offers(run.seed, CHAIN_RAW_OFFERS)
        run.setup_parts["setup.generate_s"] = time.perf_counter() - t0
        path = run.work / f"raw_offers_{rep}.jsonl"
        path.write_text(gen.jsonl(g["offers"]), encoding="utf-8")
        return g, path

    g, raw_path = _timed_reps(run, prepare)
    run.inputs.update(gen.skill_shares([o["skills"] for o in g["offers"]], g["vocab"]))
    run.inputs.update(gen.offer_shares(g["offers"], g["n_dup"]))
    input_bytes = raw_path.stat().st_size

    # no warm-up: the daily batch job runs in a fresh process, so the
    # first timed pass includes the JVM's first compilation of every
    # stage, as the job's does
    raw = read_json_records(spark, str(raw_path), JOB_RAW_SCHEMA)

    def one_pass(i: int):
        out = run.work / f"chain_{i}"
        with run.tracer.span("chain"):
            stats = run.op("run_staged_pipeline", O.run_staged_pipeline, spark, raw, str(out))
        return None if stats is None else (out, stats)

    n_pass = max(1, round(run.seconds / CHAIN_PASS_S))
    results, walls, adj = _timed_passes(run, n_pass, one_pass)
    run.layer["iterations"] = len(walls)
    _batch_latency(run, walls, adj)
    out, stats = results[-1]
    run.check("stats_repeat_in_run", len(results) - 1,
              sum(r[1] != stats for r in results[:-1]))

    # ---- output checks (untimed)
    bad = [k for k, v in stats.items() if v["required"] and v["rows"] == 0]
    run.check("quality_gate", 1, int(bool(bad)), ",".join(bad))
    fact = V.read_version(spark, str(out / "warehouse" / "fact_offres"))
    row = fact.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*[F.to_json(F.struct(c)) for c in sorted(fact.columns)])
              .cast("decimal(38,0)")).alias("h"),
    ).first()
    n_fact = row["n"]
    run.check("fact_rows_eq_planted_unique", 1, int(n_fact != g["n_base"]),
              f"{n_fact} vs {g['n_base']}")
    _digest_across_runs(run, "offer_chain", (n_fact, str(row["h"])))

    files, size = _tree_bytes(out, suffix=".parquet")
    run.e2e["lake_bytes_per_input_byte"] = size / input_bytes
    run.layer["chain.dedup_keep_frac"] = (
        stats["deduplicated"]["rows"] / stats["jobs_parsed"]["rows"])
    run.layer["chain.skills_per_offer"] = spark.read.parquet(
        str(out / "sectors_enriched")).select(F.avg(F.size("skills"))).first()[0]
    run.layer["sources.files_written"] = files
    run.layer["sources.bytes_written_mb"] = size / 2**20


def _digest_across_runs(run: Run, workload: str, value) -> None:
    """The fact digest of one seed must repeat across processes: the
    first run of a seed in this checkout records it, later runs of the
    same seed compare against it."""
    path = run.work.parent.parent / ".perfbench_out" / f"digests-{workload}.json"
    path.parent.mkdir(parents=True, exist_ok=True)
    seen = json.loads(path.read_text()) if path.exists() else {}
    key = str(run.seed)
    if key not in seen:
        seen[key] = list(value)
        path.write_text(json.dumps(seen))
    # one attempted check either way, so the first run of a seed and
    # its repeats attempt the same number of operations
    run.check("digest_repeats_across_runs", 1, int(seen[key] != list(value)),
              f"{seen[key]} vs {list(value)}")


# -------------------------------------------------------- match_topk ---

def _norm(skills) -> list[str]:
    out: list[str] = []
    for s in skills or []:
        s = s.lower().strip()
        if s not in out:
            out.append(s)
    return out


def _round6(x: float) -> float:
    from decimal import ROUND_HALF_UP, Decimal
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


EXP_TARGET = {"Débutant": 1, "Intermédiaire": 4, "Senior": 8}


def reference_score(o: dict, c: dict) -> tuple[float, float, float, float, float]:
    """Independent 40/20/20/20 score of one (offer, CV) pair:
    (skill, location, salary, experience, total), each rounded to 6
    decimals half-up."""
    os_, cs = _norm(o["skills"]), set(_norm(c["competences"]))
    skill = (sum(s in cs for s in os_) / len(os_)) if os_ else 0.0
    loc = 1.0 if o["loc"] is not None and o["loc"] == c["loc"] else 0.0
    lo, hi, wish = o["lo"], o["hi"], c["wish"]
    if wish is None or lo is None or hi is None:
        sal = 0.5
    elif lo <= wish <= hi:
        sal = 1.0
    elif wish < lo:
        sal = max(0.0, 1.0 - (lo - wish) / (lo * 0.5)) if lo > 0 else 0.5
    else:
        sal = max(0.0, 1.0 - (wish - hi) / (hi * 0.5)) if hi > 0 else 0.5
    tgt = EXP_TARGET.get(o["exp"])
    exp = 0.5 if tgt is None or c["years"] is None else max(
        0.0, 1.0 - abs(c["years"] - tgt) / 8.0)
    total = 0.4 * skill + 0.2 * loc + 0.2 * sal + 0.2 * exp
    return tuple(_round6(v) for v in (skill, loc, sal, exp, total))


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= 1.01e-6


def match_topk(run: Run) -> None:
    from bigdata_jobmatching_spark import orchestrate as O
    from bigdata_jobmatching_spark.plans.domain_pipeline import normalize_cvs
    from bigdata_jobmatching_spark.schemas import CV_SCHEMA
    from bigdata_jobmatching_spark.sources.io import read_json_records, write_stage
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark = run.spark

    def prepare(rep: int):
        t0 = time.perf_counter()
        vocab = gen.vocab_for(run.seed)
        offers = gen.gen_offer_lake(run.seed, MATCH_OFFERS, vocab)
        cvs = gen.gen_cvs(run.seed, MATCH_CVS, vocab)
        run.setup_parts["setup.generate_s"] = time.perf_counter() - t0
        odir, cdir = run.work / f"offer_lake_{rep}", run.work / f"cv_lake_{rep}"
        write_stage(spark.createDataFrame(offers, gen.OFFER_LAKE_DDL), str(odir), ("source",))
        raw = run.work / f"cvs_{rep}.jsonl"
        raw.write_text(gen.jsonl(cvs), encoding="utf-8")
        write_stage(normalize_cvs(read_json_records(spark, str(raw), CV_SCHEMA)),
                    str(cdir), ("scraped_date", "source_site"))
        return vocab, offers, cvs, odir, cdir

    vocab, offers, cvs, odir, cdir = _timed_reps(run, prepare)
    run.inputs.update(gen.skill_shares(
        [r[4] for r in offers] + [c["competences"] for c in cvs], vocab))
    _, input_bytes = _tree_bytes(odir, cdir, suffix=".parquet")

    # warm-up: one untimed pass over the same lakes (codegen, workers)
    t0 = time.perf_counter()
    with run.tracer.span("setup.warmup"):
        run.op("match_lakes_warmup", O.match_lakes, spark, str(odir), str(cdir),
               str(run.work / "match_warmup"), top_k=MATCH_TOP_K)
    run.setup_parts["setup.warmup_s"] = time.perf_counter() - t0

    def one_pass(i: int):
        out = run.work / f"match_{i}"
        r = run.op("match_lakes", O.match_lakes, spark, str(odir), str(cdir), str(out),
                   top_k=MATCH_TOP_K)
        return None if r is None else (out, r)

    n_pass = max(1, round(run.seconds / MATCH_PASS_S))
    results, walls, adj = _timed_passes(run, n_pass, one_pass)
    _batch_latency(run, walls, adj)

    out, r = results[-1]
    _, size = _tree_bytes(out, suffix=".parquet")
    run.e2e["lake_bytes_per_input_byte"] = size / input_bytes
    run.layer["match.pairs_scored"] = r["matching_scores"]
    run.layer["match.pairs_per_cv"] = r["matching_scores"] / MATCH_CVS
    run.layer["match.topk_yield"] = r["top_matches"] / max(r["matching_scores"], 1)
    run.layer["iterations"] = len(walls)
    run.check("counts_repeat_in_run", len(results) - 1,
              sum(x[1] != r for x in results[:-1]))

    # ---- output checks (untimed), against the generator's own rows
    o_rows = {o[0]: {"skills": o[4], "loc": gen.loc_id(o[3]), "lo": o[5], "hi": o[6],
                     "exp": o[7]} for o in offers}
    c_rows = {c["cv_id"]: {"competences": c["competences"],
                           "loc": c["localisation_souhaitee_id"],
                           "wish": c["salaire_souhaite"],
                           "years": max(c["annees_experience"] or 0, 0)} for c in cvs}
    top = spark.read.parquet(str(out / "top_matches"))
    w = Window.partitionBy("candidate_id").orderBy("rnk")
    shape = top.select(
        "candidate_id", "rnk", "match_score",
        F.lag("match_score").over(w).alias("prev"),
        F.count(F.lit(1)).over(Window.partitionBy("candidate_id")).alias("n"),
    ).agg(
        F.sum(F.when(F.col("n") > MATCH_TOP_K, 1).otherwise(0)).alias("over_k"),
        F.sum(F.when(F.col("prev") < F.col("match_score"), 1).otherwise(0)).alias("unordered"),
    ).first()
    run.check("topk_at_most_k_rows", 1, int(bool(shape["over_k"])), str(shape["over_k"]))
    run.check("topk_score_order", 1, int(bool(shape["unordered"])), str(shape["unordered"]))

    # seeded CV sample: the whole top-k list recomputed in Python
    df: dict[str, int] = {}
    for o in o_rows.values():
        for s in _norm(o["skills"]):
            df[s] = df.get(s, 0) + 1
    cap = MATCH_DF_FRAC * len(o_rows)
    rare = {s for s, n in df.items() if n <= cap}
    rng = random.Random(run.seed * 31 + 7)
    sample = rng.sample(sorted(c_rows), MATCH_SAMPLE_CVS)
    got: dict[str, list] = {c: [] for c in sample}
    for row in top.filter(F.col("candidate_id").isin(sample)).collect():
        got[row["candidate_id"]].append((row["rnk"], row["job_id"], row["match_score"]))
    bad_cvs = 0
    for cid in sample:
        c = c_rows[cid]
        cr = set(_norm(c["competences"])) & rare
        scored = [(reference_score(o, c)[4], jid) for jid, o in o_rows.items()
                  if cr & set(_norm(o["skills"]))]
        want = sorted(scored, key=lambda t: (-t[0], t[1]))[:MATCH_TOP_K]
        have = [(j, s) for _, j, s in sorted(got[cid])]
        if len(want) != len(have) or any(
                wj != hj or not _close(ws, hs) for (ws, wj), (hj, hs) in zip(want, have)):
            bad_cvs += 1
    run.check("topk_equals_reference", MATCH_SAMPLE_CVS, bad_cvs)

    # seeded pair sample: every component of scored rows
    pairs = (spark.read.parquet(str(out / "matching_scores"))
             .orderBy(F.xxhash64("job_id", "candidate_id", F.lit(run.seed)))
             .limit(MATCH_SAMPLE_PAIRS).collect())
    bad_pairs = 0
    for p in pairs:
        ref = reference_score(o_rows[p["job_id"]], c_rows[p["candidate_id"]])
        have = (p["skill_match_pct"], p["location_match_pct"], p["salary_match_pct"],
                p["experience_match_pct"], p["match_score"])
        bad_pairs += not all(_close(a, b) for a, b in zip(ref, have))
    run.check("pair_scores_equal_reference", len(pairs), bad_pairs)


# ------------------------------------------------------- cv_arrivals ---

class Generator(threading.Thread):
    """Open-loop producer: record k is due at t0 + k / rate whatever
    the system is doing. Each record's creation stamp is its due time
    (also written as the Kafka record timestamp)."""

    def __init__(self, produce, broker: str, records: list[tuple[str, bytes]],
                 rate: float) -> None:
        super().__init__(daemon=True)
        self.produce, self.broker = produce, broker
        self.records, self.rate = records, rate
        self.due: dict[str, float] = {}
        self.sent: dict[str, float] = {}
        self.late_s = 0.0
        self.t0 = 0.0
        self.t_end = 0.0
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            self.t0 = time.time()
            k = 0
            while k < len(self.records):
                now = time.time()
                n_due = min(int((now - self.t0) * self.rate) + 1, len(self.records))
                if n_due > k:
                    batch = self.records[k:n_due]
                    due0 = self.t0 + k / self.rate
                    self.produce(self.broker, TOPIC, [(cid.encode(), v) for cid, v in batch],
                                 partitions=ARRIVAL_PARTITIONS,
                                 timestamp_ms=int(due0 * 1000))
                    sent = time.time()
                    for j, (cid, _) in enumerate(batch, start=k):
                        due = self.t0 + j / self.rate
                        self.due[cid], self.sent[cid] = due, sent
                        self.late_s = max(self.late_s, sent - due)
                    k = n_due
                time.sleep(0.01)
            self.t_end = time.time()
        except BaseException as e:  # reported by the main thread
            self.error = e
            raise


def cv_arrivals(run: Run) -> None:
    import pyarrow.parquet as pq
    from bigdata_jobmatching_spark import orchestrate as O
    from bigdata_jobmatching_spark.plans import domain_queries as DQ
    from bigdata_jobmatching_spark.sources import kafka_wire as KW
    from bigdata_jobmatching_spark.sources.io import write_stage
    from bigdata_jobmatching_spark.streaming import ingest
    from bigdata_jobmatching_spark.streaming.serving import _free_checkpoints
    from pyspark.sql import functions as F

    spark = run.spark
    n_arrivals = int(ARRIVAL_RATE * run.seconds) + 1

    def prepare(rep: int):
        t0 = time.perf_counter()
        vocab = gen.vocab_for(run.seed)
        backlog = gen.gen_cvs(run.seed, BACKLOG, vocab, id_base=1)
        arrivals = gen.gen_cvs(run.seed, n_arrivals, vocab, id_base=10_000_000)
        corpus_rows = gen.gen_serving_offers(run.seed, SERVE_OFFERS, vocab)
        run.setup_parts["setup.generate_s"] = time.perf_counter() - t0
        corpus = spark.createDataFrame(corpus_rows, gen.SERVING_DDL).localCheckpoint(eager=True)
        broker = run.work / f"broker_{rep}"
        KW.produce(str(broker), TOPIC,
                   [(c["cv_id"].encode(), json.dumps(c).encode()) for c in backlog],
                   partitions=ARRIVAL_PARTITIONS, timestamp_ms=int(time.time() * 1000))
        return vocab, backlog, arrivals, corpus, broker, time.time()

    vocab, backlog, arrivals, corpus, broker, backlog_at = _timed_reps(run, prepare)
    run.inputs.update(gen.skill_shares([c["competences"] for c in backlog + arrivals], vocab))

    # warm-up: one small round on its own topic and checkpoint (query
    # start, the Python data source, serving codegen and workers), so
    # the timed catch-up does not also time the JVM's first streaming
    # query; its cost lands in setup_s
    t0 = time.perf_counter()
    with run.tracer.span("setup.warmup"):
        wu = run.work / "warmup"
        KW.produce(str(wu / "broker"), TOPIC,
                   [(c["cv_id"].encode(), json.dumps(c).encode()) for c in backlog[:WARMUP_CVS]],
                   partitions=ARRIVAL_PARTITIONS)
        run.op("warmup_land", lambda: ingest.stream_kafka_cvs_to_lake(
            spark, str(wu / "broker"), str(wu / "lake"), str(wu / "ckpt"),
            topic=TOPIC).awaitTermination())
        track: list = []
        wcvs = (O.adapt_cv_lake(spark.read.parquet(str(wu / "lake")))
                .withColumn("cv_id", F.col("cv_id").cast("long")))
        run.op("warmup_serve", lambda: write_stage(
            DQ.candidate_recs_for(spark, "", wcvs, offers=corpus, track=track),
            str(wu / "recs")))
        _free_checkpoints(track)
    run.setup_parts["setup.warmup_s"] = time.perf_counter() - t0
    lake, ckpt, recs_root = run.work / "cv_lake", run.work / "cv_ckpt", run.work / "recs"
    produced_at = {c["cv_id"]: backlog_at for c in backlog}
    arrival_payload = [(c["cv_id"], json.dumps(c).encode()) for c in arrivals]
    gen_thread = Generator(KW.produce, str(broker), arrival_payload, ARRIVAL_RATE)

    seen_files: set[str] = set()
    landed_round: dict[str, int] = {}
    rounds: list[dict] = []

    def one_round(i: int) -> dict:
        run.tracer.round = i
        rd = {"i": i, "start": time.time(), "records": 0, "served": 0, "ckpt": 0}
        t0 = time.perf_counter()
        with run.tracer.span("ingest"):
            q = ingest.stream_kafka_cvs_to_lake(
                spark, str(broker), str(lake), str(ckpt), topic=TOPIC)
            with run.tracer.span("ingest.await"):
                q.awaitTermination()
        rd["land_s"] = time.perf_counter() - t0
        if gen_thread.ident is None:
            # the open loop starts once the catch-up has landed, so no
            # arrival competes with the backlog for the catch-up's
            # per-trigger cap and the count of late records is exact
            gen_thread.start()
        run.stream_run_ids.add(str(q.runId))
        rd["progress"] = [json.loads(p.json) for p in q.recentProgress]
        rd["end_offset"] = (rd["progress"][-1]["sources"][0].get("endOffset") or {}
                            if rd["progress"] else {})
        new = sorted(str(p) for p in lake.rglob("*.parquet") if str(p) not in seen_files)
        seen_files.update(new)
        ids = [i_ for f in new for i_ in pq.read_table(f, columns=["cv_id"]).column(0).to_pylist()]
        rd["records"] = len(ids)
        if ids:
            with run.tracer.span("serve"):
                cvs = spark.read.option("basePath", str(lake)).parquet(*new)
                slice_ = O.adapt_cv_lake(cvs).withColumn("cv_id", F.col("cv_id").cast("long"))
                track: list = []
                recs = DQ.candidate_recs_for(spark, "", slice_, offers=corpus, track=track)
                with run.tracer.span("serve.land"):
                    write_stage(recs, str(recs_root / f"round={i:04d}"))
                _free_checkpoints(track)
            rd["served"], rd["ckpt"] = len(ids), len(track)
        rd["end"] = time.time()
        rd["end_pc"] = time.perf_counter()
        rd["wall_s"] = rd["end_pc"] - t0
        print(f"  round {i}: {rd['records']} records, land {rd['land_s']:.3f} s, "
              f"wall {rd['wall_s']:.3f} s")
        for cid in ids:
            landed_round.setdefault(cid, i)
        return rd

    run.begin_window()
    i = 0
    while True:
        final = gen_thread.ident is not None and not gen_thread.is_alive()
        rd = run.op("round", one_round, i, count=False)
        if rd is not None:
            rounds.append(rd)
        if gen_thread.ident is None:
            gen_thread.start()
        i += 1
        if final:
            break
    run.end_window()
    gen_thread.join(timeout=30)
    if gen_thread.error is not None or gen_thread.is_alive():
        run.check("generator", 1, 1, repr(gen_thread.error))
    if not rounds:
        raise RuntimeError("no round succeeded")
    timed_rounds = len(rounds)
    produced_at.update(gen_thread.sent)

    # ---- records not landed by the first round that starts after they
    # were produced
    late = 0
    for cid, t in produced_at.items():
        due_round = next((rd["i"] for rd in rounds if rd["start"] >= t), None)
        got = landed_round.get(cid)
        if due_round is None or got is None or got > due_round:
            late += 1
    run.check("landed_by_next_round", len(produced_at), late)
    unlanded_end = sum(cid not in landed_round for cid in produced_at)
    end_off = rounds[-1]["end_offset"]
    topic_end = sum(KW._end_offsets(str(broker), TOPIC).values())
    backlog_end = topic_end - sum(int(v) for v in end_off.values())

    # latency over open-loop arrivals: creation stamp -> recs landed
    ends = {rd["i"]: rd["end"] for rd in rounds}
    lat = sorted(ends[landed_round[cid]] - gen_thread.due[cid]
                 for cid in gen_thread.due if cid in landed_round)
    # p99 needs at least 10 samples beyond it
    run.check("p99_sample_size", 1, int(len(lat) < 1000), f"{len(lat)} arrivals landed")
    factor = run.host_factor(*run.window)
    if lat:
        for suffix, f in (("s", 1.0), ("adj_s", factor)):
            run.e2e[f"arrival_latency_p50_{suffix}"] = statistics.median(lat) * f
            run.e2e[f"arrival_latency_p99_{suffix}"] = _p99(lat) * f

    # ---- untimed drain, then the landing and serving checks
    for _ in range(MAX_DRAIN_ROUNDS):
        if all(cid in landed_round for cid in produced_at):
            break
        rd = run.op("drain_round", one_round, i, count=False)
        i += 1
        if rd is not None:
            rounds.append(rd)
    missing = sum(cid not in landed_round for cid in produced_at)
    run.check("every_record_lands", len(produced_at), missing, count=False)
    # catch-up wall: consumer restart to the last backlog record's
    # recommendations landed
    if not any(c["cv_id"] not in landed_round for c in backlog):
        end_pc = {rd["i"]: rd["end_pc"] for rd in rounds}
        run.e2e["wall_s"] = max(end_pc[landed_round[c["cv_id"]]] for c in backlog) - run.window[0]
        run.e2e["wall_adj_s"] = run.e2e["wall_s"] * factor

    served = sorted(landed_round)
    sample = random.Random(run.seed * 17 + 5).sample(served, min(SERVE_SAMPLE_CVS, len(served)))
    lake_df = spark.read.parquet(str(lake))
    one_shot_cvs = (O.adapt_cv_lake(lake_df.filter(F.col("cv_id").isin(sample)))
                    .withColumn("cv_id", F.col("cv_id").cast("long")))
    track: list = []
    cols = ["candidate_id", "rnk", "job_id", "rel", "score"]
    want = {tuple(r) for r in DQ.candidate_recs_for(
        spark, "", one_shot_cvs, offers=corpus, track=track).select(cols).collect()}
    _free_checkpoints(track)
    have = {tuple(r) for r in spark.read.parquet(str(recs_root)).select(cols)
            .filter(F.col("candidate_id").isin([int(s) for s in sample])).collect()}
    diff = {r[0] for r in want ^ have}
    run.check("recs_equal_one_shot", len(sample), len(diff))

    _, in_bytes = _tree_bytes(broker)
    _, out_bytes = _tree_bytes(lake, recs_root, suffix=".parquet")
    run.e2e["lake_bytes_per_input_byte"] = out_bytes / in_bytes

    timed = rounds[:timed_rounds]
    prog = [p for rd in timed for p in rd["progress"]]
    dur = lambda k: sum(p.get("durationMs", {}).get(k, 0) for p in prog)  # noqa: E731
    n_batches = len(prog)
    run.layer.update({
        "ingest.land_s": sum(rd["land_s"] for rd in timed),
        "ingest.query_start_s": sum(rd["land_s"] for rd in timed)
        - sum(p.get("batchDuration", 0) for p in prog) / 1000.0,
        "ingest.latest_offset_ms": dur("latestOffset"),
        "ingest.add_batch_ms": dur("addBatch"),
        "ingest.wal_commit_ms": dur("walCommit"),
        "ingest.batches": n_batches,
        "ingest.records_per_batch": sum(p.get("numInputRows", 0) for p in prog) / max(n_batches, 1),
        "ingest.unlanded_records": unlanded_end,
        "ingest.backlog_end": backlog_end,
        "ingest.generator_late_s": gen_thread.late_s,
        "serve.cvs_per_round": statistics.mean(rd["served"] for rd in timed),
        "serve.ckpt_frames": sum(rd["ckpt"] for rd in timed),
    })
    run.inputs["in.arrival_rate"] = len(gen_thread.sent) / max(
        gen_thread.t_end - gen_thread.t0, 1e-9)
    run.inputs["in.backlog_records"] = len(backlog)
    run.inputs["in.records_per_round"] = statistics.mean(rd["records"] for rd in timed)
    run.inputs["in.arrivals"] = len(gen_thread.sent)


WORKLOADS = {"offer_chain": offer_chain, "match_topk": match_topk, "cv_arrivals": cv_arrivals}
