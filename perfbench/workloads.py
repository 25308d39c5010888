"""The benchmark's workloads. Each runs in its own process (run.py).

Both are closed loops with one client: the crawl driver waits for each
round before starting the next, the search client waits for each reply
before sending the next query. Outputs are checked outside the timed
regions; a check that fails marks the operation it covers as failed.
"""

from __future__ import annotations

import os
import random
import statistics
import time
import traceback

from tracing import JobCounter, Tracer, tree_cpu_seconds, union_length

SETUP_REPS = 3
RESUMES = 9

# crawl_rounds: a seeded image+caption web with Zipf-skewed hosts,
# adversarial link variants and robots denials (sources/corpus.py)
CRAWL_PAGES = 240
CRAWL_HOSTS = 12
# One crawl round costs about 20 s of mostly fixed Spark overhead on a
# 4-core host, so a run measures round 1 without an untimed warm-up
# round (round 1 also builds the Bloom filter over the three seeds).
# Compaction every round puts one compaction in the measured round.
CRAWL_COMPACT_EVERY = 1

# search_serve: synthetic pages indexed and served with snippets
SEARCH_PAGES = 800
SEARCH_HOSTS = 40


class Run:
    """Per-process state shared by a workload: session, tracing,
    operation records and failure counts."""

    def __init__(self, spark, seed: int, seconds: float, tmp, tracer: Tracer | None):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.tmp = tmp
        self.tracer = tracer
        self.jobs = JobCounter(spark.sparkContext) if tracer else None
        self.excluded_jobs: set[int] = set()
        self.ops: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self._n_tmp = 0

    def tmpdir(self, name: str) -> str:
        self._n_tmp += 1
        return str(self.tmp / f"{name}{self._n_tmp}")

    def op(self, trace_id: str, fn):
        """Run one operation; returns (result, record). An exception
        marks it failed and yields result None."""
        self.attempted += 1
        rec = {"trace": trace_id, "ok": True}
        tr = self.tracer
        if tr is not None:
            tr.trace = trace_id
            jlo = self.jobs.watermark()
            cpu0 = tree_cpu_seconds()
            root = tr.open("op", "bench", "op")
        t0 = time.monotonic()
        try:
            out = fn()
        except Exception:
            traceback.print_exc()
            out = None
            rec["ok"] = False
            self.failed += 1
        t1 = time.monotonic()
        rec.update(t0=t0, t1=t1, wall=t1 - t0)
        if tr is not None:
            tr.close(root)
            rec["cpu"] = tree_cpu_seconds() - cpu0
            rec["counts"] = self.jobs.counts(jlo, self.jobs.watermark(), self.excluded_jobs)
            tr.trace = "between"
        self.ops.append(rec)
        return out, rec

    def fail(self, rec: dict, why: str) -> None:
        print(f"check failed [{rec['trace']}]: {why}", flush=True)
        if rec["ok"]:
            rec["ok"] = False
            self.failed += 1

    def untraced_count(self, df) -> int:
        """A count the benchmark itself needs in a traced run; its
        jobs are left out of the per-operation job counts."""
        lo = self.jobs.watermark()
        n = df.count()
        self.excluded_jobs.update(range(lo + 1, self.jobs.watermark() + 1))
        return n


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _dir_stats(path) -> tuple[int, int]:
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".crc"):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return size, files


# -- per-layer helpers over the recorded spans ------------------------------


def _spans_of(tracer: Tracer, trace_id: str):
    return [s for s in tracer.spans if s.trace == trace_id]


def _top_dur(spans, names) -> float:
    """Summed wall time of spans named in ``names`` that are not nested
    inside another span of that set."""
    total = 0.0
    for s in spans:
        if s.name not in names:
            continue
        p = s.parent
        while p is not None and p.name not in names:
            p = p.parent
        if p is None:
            total += s.dur
    return total


def _action_time(spans) -> float:
    return union_length([(s.start, s.end) for s in spans if s.kind == "action"])


def _self_by_layer(tracer: Tracer, spans) -> dict[str, float]:
    out: dict[str, float] = {}
    for s in spans:
        if s.thread == tracer.main_thread:
            out[s.layer] = out.get(s.layer, 0.0) + s.self_time()
    return out


LAYERS = [
    "plans.crawl",
    "sources.checkpoints",
    "operators.seen",
    "operators.scheduler",
    "plans.indexer",
    "plans.search",
    "bench",
]


def _common_layer_metrics(run: Run, measured: list[dict]) -> dict:
    """Self time per layer per operation, Spark-wide counters and the
    traced end-to-end figure the tracing overhead is read from."""
    tr = run.tracer
    n = max(len(measured), 1)
    selfs = {k: 0.0 for k in LAYERS}
    for rec in measured:
        for layer, t in _self_by_layer(tr, _spans_of(tr, rec["trace"])).items():
            key = layer if layer in selfs else "bench"
            selfs[key] += t
    wall = sum(r["wall"] for r in measured)
    cpu = sum(r["cpu"] for r in measured)
    m = {f"self_ms.{k}": 1000.0 * v / n for k, v in selfs.items()}
    m.update(
        {
            "spark.failed_tasks": sum(r["counts"]["failed_tasks"] for r in run.ops),
            "spark.cpu_util": cpu / (wall * len(os.sched_getaffinity(0))) if wall else 0.0,
            "trace.op_p50_ms": 1000.0 * _median([r["wall"] for r in measured]),
            "trace.spans_per_op": sum(len(_spans_of(tr, r["trace"])) for r in measured) / n,
        }
    )
    return m


# -- crawl_rounds ------------------------------------------------------------


def crawl_rounds(run: Run) -> dict:
    from web_crawler_search_engine_spark.plans.crawl import CrawlConfig, CrawlJob
    from web_crawler_search_engine_spark.sources import corpus as C

    spark = run.spark
    setup = []
    for _ in range(SETUP_REPS):
        t0 = time.monotonic()
        # generate_world memoizes per parameter tuple: drop the memo so
        # every repetition pays input generation
        C._WORLD_CACHE.clear()
        world = C.generate_world(
            n=CRAWL_PAGES, hosts=CRAWL_HOSTS, seed=run.seed, image_dim_choices=(32,)
        )
        corpus = C.corpus_df(spark, world)
        robots = C.robots_src_df(spark, world)
        cfg = CrawlConfig(
            root_domains=world.root_domains,
            user_agent=C.USER_AGENT,
            politeness=C.POLITENESS,
            compact_every=CRAWL_COMPACT_EVERY,
        )
        ckpt = run.tmpdir("ckpt")
        job = CrawlJob(spark, corpus, robots, cfg, checkpoint_dir=ckpt)
        setup.append(time.monotonic() - t0)
    # seeding the frontier is one commit: once, on the last job
    t0 = time.monotonic()
    job.start(world.seeds)
    start_s = time.monotonic() - t0

    rounds = []  # (info, record, checkpoint bytes, files)
    measured_s = 0.0
    while measured_s < run.seconds:
        before = _dir_stats(ckpt) if run.tracer else (0, 0)
        info, rec = run.op(f"round{job.round + 1}", job.run_round)
        after = _dir_stats(ckpt) if run.tracer else (0, 0)
        rounds.append((info, rec, after[0] - before[0], after[1] - before[1]))
        measured_s += rec["wall"]
        if info is None or info["pending"] == 0:
            break

    # restart: a fresh job on the same checkpoint and its resume(),
    # repeated; the last one is checked
    job.corpus.unpersist()
    resumes = []
    for i in range(RESUMES):
        job2 = CrawlJob(spark, corpus, robots, cfg, checkpoint_dir=ckpt)
        n_pending, res_rec = run.op(f"resume{i}", job2.resume)
        resumes.append(res_rec)
        if i < RESUMES - 1:
            job2.corpus.unpersist()

    # -- output checks (untimed): the round-based oracle on the same world
    from tests.oracle.simulator import RoundSim

    sim = RoundSim(
        world.by_url(),
        world.robots,
        world.root_domains,
        user_agent=C.USER_AGENT,
        politeness=C.POLITENESS,
        round_duration=cfg.round_duration,
    ).run(world.seeds, max_rounds=job2.round)
    got = job2.admitted_sequences()
    for info, rec, _, _ in rounds:
        if info is None:
            continue
        r = info["round"]
        want = sim.rounds.get(r, [])
        if got.get(r, []) != want:
            run.fail(rec, f"admitted sequence of round {r} differs from the oracle")
        if info["admitted"] != len(want):
            run.fail(rec, f"round {r} reported {info['admitted']} admitted, oracle {len(want)}")
    want_state = {u: (st, sim.lengths[u]) for u, st in sim.statuses.items()}
    if job2.final_state() != want_state:
        run.fail(res_rec, "resumed frontier state differs from the oracle")
    want_pending = sum(st == "pending" for st in sim.statuses.values())
    got_pending = job2.pending.count()
    if n_pending != len(rounds) or got_pending != want_pending:
        run.fail(res_rec, f"resume() gave round {n_pending} with {got_pending} pending; "
                 f"oracle: round {len(rounds)} with {want_pending} pending")
    job2.corpus.unpersist()

    ok_rounds = [(i, r) for i, r, _, _ in rounds if r["ok"]]
    walls = [r["wall"] for _, r in ok_rounds]
    urls = sum(i["admitted"] + i["new_urls"] for i, _ in ok_rounds)
    out = {
        "setup_once": start_s,
        "setup_reps": setup,
        "op_name": "crawl round",
        "op_walls": walls,
        "restarts": [r["wall"] for r in resumes],
        "extra": {"urls_scheduled_per_s": urls / sum(walls) if walls else 0.0},
    }
    if run.tracer is not None:
        out["layers"] = _crawl_layers(run, rounds, resumes)
    return out


def _crawl_layers(run: Run, rounds, resumes) -> dict:
    tr = run.tracer
    measured = [rec for _, rec, _, _ in rounds]
    per = []
    for info, rec, nbytes, nfiles in rounds:
        sp = _spans_of(tr, rec["trace"])
        commits = [s for s in sp if s.name == "SnapshotStore.commit"]
        writes = [
            s for s in sp
            if s.kind == "action" and s.layer == "sources.checkpoints"
            and s.name in ("save", "parquet", "saveAsTable", "insertInto")
        ]
        seen = tr.seen_counts.get(rec["trace"], {})
        c = rec["counts"]
        per.append(
            {
                "crawl.jobs_per_round": c["jobs"],
                "crawl.stages_per_round": c["stages"],
                "crawl.tasks_per_round": c["tasks"],
                "crawl.driver_s_per_round": rec["wall"] - _action_time(sp),
                "checkpoints.commit_s": _top_dur(sp, {"SnapshotStore.commit"}),
                "checkpoints.writes_per_commit": len(writes) / max(len(commits), 1),
                "checkpoints.bytes_per_round": nbytes,
                "checkpoints.files_per_round": nfiles,
                "seen.probe_s": _top_dur(sp, {"anti_join_via_bloom", "maybe_seen_keys"}),
                "seen.filter_update_s": _top_dur(sp, {"bloom_word_updates", "or_words"}),
                "seen.probed_keys": seen.get("probed", 0),
                "seen.maybe_keys": seen.get("maybe", 0),
                "seen.confirmed_keys": seen.get("confirmed", 0),
                "scheduler.admit_s": _top_dur(sp, {"admit"}),
                "scheduler.assign_seq_s": _top_dur(
                    sp, {"assign_seq_within_parents_cached", "assign_global_seq"}
                ),
                "scheduler.admitted": info["admitted"] if info else 0,
            }
        )
    m = {k: _median([p[k] for p in per]) for k in per[0]}
    maybe = sum(p["seen.maybe_keys"] for p in per)
    conf = sum(p["seen.confirmed_keys"] for p in per)
    m["seen.false_positive_ratio"] = (maybe - conf) / maybe if maybe else 0.0
    m["checkpoints.load_s"] = _median([
        _top_dur(_spans_of(tr, r["trace"]), {"SnapshotStore.load", "SnapshotStore.load_log"})
        for r in resumes
    ])
    m["crawl.compact_s"] = _median(
        [_top_dur(_spans_of(tr, r["trace"]), {"CrawlJob._compact"}) for r in measured]
    )
    m.update(_common_layer_metrics(run, measured))
    return m


# -- search_serve --------------------------------------------------------------


def _query_pool(rows, seed: int) -> list[str]:
    """Hit queries of one, two and three caption words plus one plural
    that only matches through the stemmed fallback."""
    rng = random.Random(seed)
    captions = [r["caption"].split() for r in rows]
    vocab = sorted({w for c in captions for w in c})
    cap = rng.choice([c for c in captions if len(c) >= 3])
    i = rng.randrange(len(cap) - 1)
    return [
        rng.choice(vocab),
        " ".join(cap[i : i + 2]),
        " ".join(rng.sample(vocab, 3)),
        rng.choice(vocab) + "s",
    ]


def _serving_conf(spark) -> None:
    """The serving config jobs/search_job.py --serve sets."""
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(max(spark.sparkContext.defaultParallelism // 4, 2)),
    )
    spark.conf.set("spark.sql.adaptive.enabled", "false")


def search_serve(run: Run) -> dict:
    from web_crawler_search_engine_spark.plans import indexer as I
    from web_crawler_search_engine_spark.plans import search as S
    from web_crawler_search_engine_spark.sources import corpus as C

    spark = run.spark
    t0 = time.monotonic()
    world = C.generate_world(
        n=SEARCH_PAGES, hosts=SEARCH_HOSTS, seed=run.seed, with_images=False
    )
    pages = spark.createDataFrame(
        [(r["url"], r["content"]) for r in world.rows], "url string, content string"
    ).persist()
    pages.count()
    gen_s = time.monotonic() - t0
    pool = _query_pool(world.rows, run.seed)

    # restart: pages to first answer — build and write the index, load
    # the serving handle, answer one query
    index_dir = run.tmpdir("index")
    loads = []
    state = {}

    def restart():
        docs, postings, _ = I.build_index(pages)
        I.write_index(docs, postings, index_dir)
        _serving_conf(spark)
        t0 = time.monotonic()
        state["postings"], state["docs"], state["buckets"] = I.read_index(spark, index_dir)
        state["idx"] = S.ServingIndex(
            state["postings"], state["docs"], buckets=state["buckets"], pages=pages
        )
        loads.append(time.monotonic() - t0)
        return state["idx"].query(pool[0])

    results: dict[str, list] = {}
    first, restart_rec = run.op("restart", restart)
    results.setdefault(pool[0], []).append((first, restart_rec))
    if not restart_rec["ok"]:
        raise RuntimeError("index build or load failed")
    for _ in range(SETUP_REPS - 1):
        state["idx"].close()
        t0 = time.monotonic()
        postings, docs, buckets = I.read_index(spark, index_dir)
        state["idx"] = S.ServingIndex(postings, docs, buckets=buckets, pages=pages)
        loads.append(time.monotonic() - t0)
    idx = state["idx"]

    for q in pool:  # warm-up pass, untimed
        idx.query(q)
    queries = []
    t_start = time.monotonic()
    i = 0
    while time.monotonic() - t_start < run.seconds:
        q = pool[i % len(pool)]
        got, rec = run.op(f"query{i}", lambda q=q: idx.query(q))
        results.setdefault(q, []).append((got, rec))
        queries.append(rec)
        i += 1
    window = time.monotonic() - t_start

    # -- output checks (untimed): the batch search path on the same index
    for q, answers in results.items():
        want = [
            r.asDict()
            for r in S.search(
                state["postings"], state["docs"], q, pages=pages, buckets=state["buckets"]
            ).collect()
        ]
        if not want:
            print(f"warning: query {q!r} has no results", flush=True)
        for got, rec in answers:
            if rec["ok"] and got != want:
                run.fail(rec, f"ServingIndex.query({q!r}) differs from search()")

    walls = [r["wall"] for r in queries if r["ok"]]
    out = {
        "setup_once": gen_s,
        "setup_reps": loads,
        "op_name": "warm query",
        "op_walls": walls,
        "restarts": [restart_rec["wall"]],
        "extra": {"queries_per_s": len(walls) / window},
    }
    if run.tracer is not None:
        out["layers"] = _search_layers(run, queries, restart_rec, index_dir, loads)
    idx.close()
    pages.unpersist()
    return out


def _search_layers(run: Run, queries, restart_rec, index_dir, loads) -> dict:
    from web_crawler_search_engine_spark.plans import indexer as I

    tr = run.tracer
    build = _spans_of(tr, restart_rec["trace"])
    per = []
    for rec in queries:
        sp = _spans_of(tr, rec["trace"])
        per.append(
            {
                "search.jobs_per_query": rec["counts"]["jobs"],
                "search.driver_ms": 1000.0 * (rec["wall"] - _action_time(sp)),
                "fallback": any(s.name == "fallback_tokens" for s in sp),
            }
        )
    postings, _, _ = I.read_index(run.spark, index_dir)
    m = {
        "indexer.parse_s": _top_dur(build, {"parse_pages"}),
        "indexer.finalize_s": _top_dur(build, {"finalize_index"}),
        "indexer.write_s": _top_dur(build, {"write_index"}),
        "indexer.postings": run.untraced_count(postings),
        "indexer.bytes_written": _dir_stats(index_dir)[0],
        "search.load_s": _median(loads),
        "search.jobs_per_query": _median([p["search.jobs_per_query"] for p in per]),
        "search.driver_ms": _median([p["search.driver_ms"] for p in per]),
        "search.fallback_ratio": sum(p["fallback"] for p in per) / max(len(per), 1),
    }
    m.update(_common_layer_metrics(run, queries))
    return m


WORKLOADS = {"crawl_rounds": crawl_rounds, "search_serve": search_serve}
