"""Interleaved same-JVM A/B of the discovery_seq assignment's cache
shape (r3 verdict next-round item 5: seq-assign is the last engine
phase under the 0.70 N-vs-4N bar — cache-WRITE bound, 0.51–0.57).

Protocol per BENCH/BASELINE.md + the r2 A/B record: the guest swings
up to 2x across minutes, so shapes alternate inside ONE JVM over the
SAME cached inputs, several reps, decision metric = per-shape MIN.
Run the tool once per core count (two JVMs) and compare per-shape
scaling across the levels; bracket by running both orders if the
window looks noisy.

Shapes (all value-identical — asserted on first rep):
  wide      — the engine's shape (assign_seq_within_parents_cached):
              window over the full link rows, persist() the wide
              ranked rows (deserialized columnar cache).
  wide_disk — same plan, ranked persisted DISK_ONLY: the block
              manager serializes + lz4-compresses batches, trading
              the raw-bytes memory-bandwidth write (which more cores
              cannot multiply on one box) for compression CPU (which
              they can); on this host "disk" is page cache.
  skinny    — the r2 loser re-tried under the r3.9 surrounding
              phases: rank a (url_key, parent_seq, pos) projection,
              persist ONLY that + the seq map, join the seq back onto
              the (cheap-to-recompute) input.

Usage: python tools/seqassign_ab.py [cores] [n_links] [n_parents] [reps]
One JSON line to stdout.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.storagelevel import StorageLevel  # noqa: E402


def _session(cores: int) -> SparkSession:
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("seqassign-ab")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("AB_DRIVER_MEM", "16g"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{os.environ.get('AB_DRIVER_MEM', '16g')} "
            "-XX:+AlwaysPreTouch -XX:+UseParallelGC",
        )
        .getOrCreate()
    )


def _links(spark: SparkSession, n: int, n_parents: int):
    """Same row shape as bench.py _as_links (url strings dominate the
    cached bytes, as in the engine)."""
    base = spark.range(n).select(F.col("id").alias("i"))
    url = F.concat(
        F.lit("https://h"),
        F.pmod("i", F.lit(997)).cast("string"),
        F.lit(".ab.example.com/p/"),
        F.col("i").cast("string"),
    )
    return base.select(
        F.xxhash64(url).alias("url_key"),
        url.alias("url"),
        F.concat(
            F.lit("h"), F.pmod("i", F.lit(997)).cast("string"),
            F.lit(".ab.example.com"),
        ).alias("host"),
        F.lit(1).alias("depth"),
        F.pmod("i", F.lit(n_parents)).alias("parent_seq"),
        F.col("i").alias("pos"),
    )


def _consume(df) -> tuple[int, int]:
    """Stand-in for the round's downstream consumers: one wide pass
    (the log-delta write path) + one skinny pass (the bloom delta)."""
    r = df.agg(
        F.count("*").alias("n"),
        F.sum(F.length("url")).alias("b"),
        F.sum("discovery_seq").alias("s"),
    ).collect()[0]
    return int(r["n"]), int(r["s"])


def run_shape(shape: str, links, base: int, max_parents: int):
    from web_crawler_search_engine_spark.operators.scheduler import (
        assign_seq_within_parents_cached,
    )

    spark = links.sparkSession
    t0 = time.monotonic()
    if shape in ("wide", "wide_disk", "wide_ser"):
        if shape in ("wide_disk", "wide_ser"):
            level = (
                StorageLevel.DISK_ONLY
                if shape == "wide_disk"
                else StorageLevel.MEMORY_AND_DISK
            )
            import web_crawler_search_engine_spark.operators.scheduler as sched

            orig = sched.DataFrame.persist
            sched.DataFrame.persist = (  # type: ignore[assignment]
                lambda self, lvl=level: orig(self, lvl)
            )
            try:
                new_links, cache, n_new = assign_seq_within_parents_cached(
                    links, "parent_seq", "pos", base=base,
                    max_driver_parents=max_parents,
                )
                sig = _consume(new_links)
            finally:
                sched.DataFrame.persist = orig  # type: ignore[assignment]
        else:
            new_links, cache, n_new = assign_seq_within_parents_cached(
                links, "parent_seq", "pos", base=base,
                max_driver_parents=max_parents,
            )
            sig = _consume(new_links)
        cache.unpersist()
    elif shape == "bcast":
        # r5 shape: the WIDE rows never shuffle. Cache them at source
        # partitioning, run the window on a skinny (parent_seq, pos)
        # projection (tiny exchange), then BROADCAST the (parent_seq,
        # pos) -> seq map back onto the unshuffled wide cache. Differs
        # from the refuted "skinny" shape exactly in the join-back:
        # skinny shuffle-joined the wide rows (so wide rows still paid
        # an exchange — and lost); here the map rides the broadcast.
        # Driver state is O(batch) for the map — in the engine this
        # would be size-gated with the wide shape as fallback.
        # pay a REAL wide cache write (in the engine the input is the
        # lazy anti-join output and must be pinned): _copy forces a
        # distinct analyzed plan, so this is a separate cache entry,
        # not a no-op re-persist of the harness's pre-cached links
        wide = links.withColumn("_copy", F.lit(1)).drop("_copy").persist()
        wide.count()
        w = Window.partitionBy("parent_seq").orderBy("pos")
        skinny = (
            links.select("parent_seq", "pos")
            .withColumn("_rk", F.row_number().over(w))
            .persist()
        )
        grouped = skinny.groupBy("parent_seq").agg(F.max("_rk").alias("_n"))
        head = grouped.take(max_parents + 1)
        # take() keeps an arbitrary subset past the cap, and rows of
        # an uncovered parent would silently drop out of the inner
        # joins below — fail loudly instead
        assert len(head) <= max_parents, (
            f"more than {max_parents} distinct parents"
        )
        cnts = sorted(head, key=lambda r: r["parent_seq"])
        acc = base
        offs = []
        for r in cnts:
            offs.append((r["parent_seq"], acc))
            acc += r["_n"]
        odf = links.sparkSession.createDataFrame(
            offs, "parent_seq long, _off long"
        )
        seq_map = skinny.join(F.broadcast(odf), "parent_seq").select(
            "parent_seq",
            "pos",
            (F.col("_off") + F.col("_rk") - 1).cast("long").alias(
                "discovery_seq"
            ),
        )
        new_links = wide.join(F.broadcast(seq_map), ["parent_seq", "pos"])
        sig = _consume(new_links)
        skinny.unpersist()
        wide.unpersist()
    elif shape == "skinny":
        w = Window.partitionBy("parent_seq").orderBy("pos")
        skinny = (
            links.select("url_key", "parent_seq", "pos")
            .withColumn("_rk", F.row_number().over(w))
            .persist()
        )
        grouped = skinny.groupBy("parent_seq").agg(F.max("_rk").alias("_n"))
        head = grouped.take(max_parents + 1)
        # take() keeps an arbitrary subset past the cap, and rows of
        # an uncovered parent would silently drop out of the inner
        # joins below — fail loudly instead
        assert len(head) <= max_parents, (
            f"more than {max_parents} distinct parents"
        )
        cnts = sorted(head, key=lambda r: r["parent_seq"])
        acc = base
        offs = []
        for r in cnts:
            offs.append((r["parent_seq"], acc))
            acc += r["_n"]
        odf = links.sparkSession.createDataFrame(
            offs, "parent_seq long, _off long"
        )
        seq_map = (
            skinny.join(F.broadcast(odf), "parent_seq")
            .select(
                "url_key",
                (F.col("_off") + F.col("_rk") - 1).cast("long").alias(
                    "discovery_seq"
                ),
            )
        )
        new_links = links.join(seq_map, "url_key")
        sig = _consume(new_links)
        skinny.unpersist()
    else:
        raise ValueError(shape)
    return time.monotonic() - t0, sig


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 4_800_000
    n_parents = int(sys.argv[3]) if len(sys.argv) > 3 else 120_000
    reps = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    spark = _session(cores)
    spark.sparkContext.setLogLevel("ERROR")

    links = _links(spark, n, n_parents).persist(StorageLevel.MEMORY_ONLY)
    links.count()

    shapes = os.environ.get(
        "AB_SHAPES", "wide,wide_disk,skinny"
    ).split(",")
    times: dict[str, list[float]] = {s: [] for s in shapes}
    sigs = {}
    for rep in range(reps):
        for s in shapes:
            dt, sig = run_shape(s, links, base=10 * n, max_parents=200_000)
            times[s].append(round(dt, 3))
            if rep == 0:
                sigs[s] = sig
            print(f"[ab] rep{rep} {s}: {dt:.2f}s", file=sys.stderr)
    assert len(set(sigs.values())) == 1, f"shapes disagree: {sigs}"
    print(
        json.dumps(
            {
                "metric": "seqassign_ab",
                "cores": cores,
                "n_links": n,
                "n_parents": n_parents,
                "times": times,
                "mins": {s: min(t) for s, t in times.items()},
                "signature": list(sigs.values())[0],
            }
        )
    )


if __name__ == "__main__":
    main()
