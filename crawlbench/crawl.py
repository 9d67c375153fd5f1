"""The two crawl workloads: ``crawl_snapshot`` (a cold snapshot crawl) and
``recrawl_tick`` (one live-fetch cadence tick plus its upsert).

Both walk the same seeded synthetic snapshot and are checked against the
independent reference simulator (``tests/ref_simulator.py``). Traced
passes replay the crawl's layers afterwards — each public layer function
called on the pass's own inputs and forced with the noop sink — because
``run_crawl`` is one call and a replay is the only outside view of them.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import subprocess
import sys
import time
from urllib.parse import quote

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from politics_crawler_spark.config import RUN_DATE
from politics_crawler_spark.operators.extract import site_expr, with_extraction
from politics_crawler_spark.operators.fetch import make_fetch_stage, urllib_transport
from politics_crawler_spark.operators.listparse import parse_list_pages
from politics_crawler_spark.plans import seen as seen_mod
from politics_crawler_spark.plans.bloom import BloomShard
from politics_crawler_spark.plans.crawl import run_crawl
from politics_crawler_spark.plans.politeness import host_salt_plan, salted_repartition_by_host
from politics_crawler_spark.schemas import PAGES
from politics_crawler_spark.sinks.upsert import upsert_partitioned
from politics_crawler_spark.sources.synthetic_pages import (
    crawl_boards,
    list_url,
    synthesize_pages_pandas,
)
from politics_crawler_spark.streaming.cadence import crawl_tick
from tests.ref_simulator import simulate

from . import oracles
from .harness import MIB, noop, task_skew

N_SHARDS = 16
PAGES_PER_ROUND = 4  # several depth rounds, so the round loop shows
# Live ticks use bench.py's round size: with smaller rounds, a live round
# that selects no new post crashes run_crawl (see README, known defects).
TICK_PAGES_PER_ROUND = 32
SALT_TARGET_ROWS = 150  # splits the dcinside mega-host at these sizes
PRIOR_SEEN_SHARE = 0.85  # recrawl: share of posts the prior runs already saw
FETCH_RETRY = dict(max_attempts=2, min_bytes=50, backoff_s=(0.002, 0.005), timeout_s=10.0)
MIN_INTERVAL_S = 0.002  # per-host pacing, small so sleeps do not dominate
# the upsert sink's target layout: the normalized batch minus the partition column
TARGET_SCHEMA = pa.schema([
    ("url", pa.string()), ("post_id", pa.string()), ("category", pa.string()),
    ("title", pa.string()), ("link", pa.string()), ("writer", pa.string()),
    ("date", pa.timestamp("us", tz="UTC")), ("views", pa.int64()),
    ("recommend", pa.int64()), ("comments", pa.int64()), ("content", pa.string()),
    ("status", pa.string()), ("images_json", pa.string()),
])


def bloom_fill(blooms) -> tuple[float, float]:
    """(mean share of bits set, mean estimated FPR = fill^k) over shards."""
    fills, fprs = [], []
    for raw in blooms:
        shard = BloomShard.from_bytes(raw)
        fill = float(np.unpackbits(shard.bits).mean())
        fills.append(fill)
        fprs.append(fill**shard.k)
    return (float(np.mean(fills)), float(np.mean(fprs))) if fills else (0.0, 0.0)


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / MIB


class _Crawl:
    """Shared inputs: a seeded pages snapshot over ``replicas`` board clones."""

    def __init__(self, ctx, n_pages: int, replicas: int):
        self.ctx, self.spark = ctx, ctx.spark
        self.n_pages, self.replicas = n_pages, replicas
        self.boards = crawl_boards(replicas)

    def build_pages(self) -> pd.DataFrame:
        return synthesize_pages_pandas(self.n_pages, seed=self.ctx.seed, replicas=self.replicas)

    def simulate(self):
        pdf = self.pdf
        self.sim_order, self.sim_seen = simulate(
            dict(zip(pdf["url"], pdf["html"])), self.boards, RUN_DATE
        )
        self.texts = dict(zip(pdf["url"], pdf["text"]))
        self.list_urls = [u for b in self.boards for p in range(b.max_pages)
                          if (u := list_url(b, p)) in self.texts]

    # -- replayed layers (traced passes only) ------------------------------

    def _keys(self, urls) -> "DataFrame":
        df = self.spark.createDataFrame(pd.DataFrame({"url": sorted(urls)}), "url string")
        return df.select(F.xxhash64("url").alias("url_hash")).persist()

    def replay(self, tracer, post_urls, seen_before, layers: dict) -> None:
        spark, pdf = self.spark, self.pdf
        enc = {list_url(b, p): (b.encoding, b.board) for b in self.boards
               for p in range(b.max_pages)}
        lists = pdf[pdf["url"].isin(self.list_urls)][["url", "html"]].copy()
        lists["encoding"] = [enc[u][0] for u in lists["url"]]
        lists["board"] = [enc[u][1] for u in lists["url"]]
        lists = spark.createDataFrame(
            lists, "url string, html binary, encoding string, board string").persist()
        lists.count()
        with tracer.span("listparse.parse_list_pages") as sp:
            obs = Observation()
            noop(parse_list_pages(lists).observe(obs, F.count(F.lit(1)).alias("n")))
        layers.update({
            "listparse.busy_ms": sp["busy_ms"], "listparse.pages_in": len(self.list_urls),
            "listparse.rows_out": obs.get["n"],
            "listparse.python_mb": sp["python_sent_bytes"] / MIB,
        })
        lists.unpersist()

        cand, lkeys = self._keys(self.sim_seen), self._keys(self.list_urls)
        seen0 = seen_before().persist()
        for df in (cand, lkeys, seen0):
            df.count()
        with tracer.span("seen.probe_and_update") as sp:
            obs = Observation()
            noop(seen_mod.probe_and_update(cand, lkeys, seen0, N_SHARDS).observe(
                obs, F.count("url_hash").alias("survivors")))
        n_probed = len(self.sim_seen)
        layers.update({
            "seen.busy_ms": sp["busy_ms"], "seen.keys_probed": n_probed,
            "seen.survivor_ratio": obs.get["survivors"] / n_probed if n_probed else 0.0,
        })
        for df in (cand, lkeys, seen0):
            df.unpersist()

        detail = spark.createDataFrame(pd.DataFrame({"url": sorted(post_urls)}), "url string")
        detail = detail.withColumn("host", F.parse_url("url", F.lit("HOST"))).persist()
        detail.count()
        hosts = spark.createDataFrame(pd.DataFrame({"url": pdf["url"]}), "url string").select(
            F.parse_url("url", F.lit("HOST")).alias("host")).persist()
        hosts.count()
        with tracer.span("politeness.salted_repartition") as sp:
            plan = host_salt_plan(hosts, target_rows_per_task=SALT_TARGET_ROWS)
            noop(salted_repartition_by_host(detail, salt_plan=plan))
        layers.update({
            "politeness.busy_ms": sp["busy_ms"],
            "politeness.salted_hosts": sum(1 for v in plan.values() if v > 1),
            "politeness.task_skew": task_skew(sp["stages"]),
        })
        hosts.unpersist()

        docs = pdf[pdf["url"].isin(set(post_urls))][["url", "html"]]
        matched = spark.createDataFrame(docs, "url string, html binary").withColumn(
            "_site", site_expr(F.parse_url("url", F.lit("HOST")))).persist()
        matched.count()
        with tracer.span("extract.with_extraction") as sp:
            obs = Observation()
            noop(with_extraction(matched, site_col="_site").observe(
                obs, F.count(F.lit(1)).alias("n"),
                F.sum((F.col("status") == "ok").cast("long")).alias("ok")))
        n = obs.get["n"]
        layers.update({
            "extract.busy_ms": sp["busy_ms"],
            "extract.ms_per_page": sp["busy_ms"] / n if n else 0.0,
            "extract.python_mb": sp["python_sent_bytes"] / MIB,
            "extract.ok_ratio": (obs.get["ok"] or 0) / n if n else 0.0,
        })
        matched.unpersist()
        self.detail = detail  # the fetch replay reuses it

    def close(self):
        """Nothing outlives the run but the Spark session."""


class CrawlSnapshot(_Crawl):
    """Cold ``run_crawl`` over the snapshot: wide frontier, deferred
    extraction, empty bloom seen-set, dcinside mega-host."""

    name = "crawl_snapshot"

    def __init__(self, ctx):
        super().__init__(ctx, n_pages=int(4000 * ctx.scale), replicas=2)
        self.pages = None

    def setup(self):
        self.pdf = self.build_pages()
        if self.pages is not None:
            self.pages.unpersist()
        self.pages = self.spark.createDataFrame(self.pdf, schema=PAGES).persist()
        self.pages.count()

    def prepare_checks(self):
        self.simulate()

    def run_pass(self, tracer, traced: bool) -> dict:
        spark = self.spark
        with tracer.span("crawl.run_crawl") as sp:
            t0 = time.perf_counter()
            res = run_crawl(spark, self.pages, n_shards=N_SHARDS, boards=self.boards,
                            pages_per_round=PAGES_PER_ROUND, keep_lineage=True,
                            host_target_rows=SALT_TARGET_ROWS)
            got = res.extracted.select(
                "url", "content", "site_rank", "page_no", "row_idx").toPandas()
            wall = time.perf_counter() - t0
        n_lists = sum(m["list_pages"] for m in res.metrics)
        out = {
            "wall_s": wall, "items": len(got) + n_lists,
            "errors": oracles.check_crawl(got, self.sim_order, self.texts),
            "recall": len(set(got["url"]) & self.sim_seen) / max(1, len(self.sim_seen)),
            "materialized_mb": self.ctx.status.materialized_mb() if traced else 0.0,
        }
        if traced:
            fill, fpr = bloom_fill(r.bloom for r in res.seen.select("bloom").collect())
            layers = {
                "crawl.rounds": res.rounds, "crawl.jobs": sp["jobs"],
                "crawl.driver_gap_ms": sp["driver_gap_ms"],
                "seen.fill_ratio": fill, "seen.est_fpr": fpr, "seen.false_drops": 0,
            }
            self.replay(tracer, set(got["url"]),
                        lambda: seen_mod.empty_seen(spark, N_SHARDS), layers)
            self.detail.unpersist()
            out["layers"] = layers
        for c in res.caches:
            c.unpersist()
        return out


class RecrawlTick(_Crawl):
    """One live-fetch ``crawl_tick`` against a prior seen table that holds
    most posts, then ``upsert_partitioned`` of its output into a
    pre-populated partitioned target."""

    name = "recrawl_tick"

    def __init__(self, ctx):
        super().__init__(ctx, n_pages=int(3000 * ctx.scale), replicas=1)
        self.server = None
        self.epoch = 0
        self.root = os.path.join(ctx.work_dir, "recrawl")

    # -- inputs -------------------------------------------------------------

    def setup(self):
        """Pages, the prior runs' seen table and the pristine target, built
        in the driver (no Spark jobs beyond hashing the URLs)."""
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root)
        self.pdf = self.build_pages()
        self.simulate()
        rng = random.Random(self.ctx.seed)
        posts = sorted(self.sim_seen)
        self.prior = set(rng.sample(posts, int(len(posts) * PRIOR_SEEN_SHARE)))
        self.expected = set(self.sim_seen) - self.prior
        hashes = self._hashes(self.prior | set(self.list_urls) | self.expected)
        # prior runs' bloom: their posts plus every list page, laid out like
        # plans.seen's table (shard = pmod(url_hash, n_shards))
        shards = [BloomShard.sized_for(seen_mod.DEFAULT_KEYS_PER_SHARD, seen_mod.DEFAULT_FPR)
                  for _ in range(N_SHARDS)]
        keys = np.array([hashes[u] for u in self.prior | set(self.list_urls)], dtype=np.int64)
        for i, shard in enumerate(shards):
            shard.add(keys[np.mod(keys, N_SHARDS) == i])
        seen_dir = os.path.join(self.root, "state0/seen/v0")
        os.makedirs(seen_dir)
        pq.write_table(pa.table({
            "shard_id": pa.array(range(N_SHARDS), pa.int32()),
            "version": pa.array([1] * N_SHARDS, pa.int64()),
            "bloom": pa.array([s.to_bytes() for s in shards], pa.binary()),
            "n_keys": pa.array([s.n_keys for s in shards], pa.int64()),
        }), os.path.join(seen_dir, "part-0.parquet"))
        # a new post may be dropped only when the prior bloom holds its bits
        self.may_drop = {
            u for u in self.expected
            if shards[hashes[u] % N_SHARDS].contains(np.array([hashes[u]], np.int64))[0]
        }
        self._write_target(rng)

    def _hashes(self, urls) -> dict[str, int]:
        """The engine's url_hash (Spark xxhash64) of each URL."""
        df = self.spark.createDataFrame(pd.DataFrame({"url": sorted(urls)}), "url string")
        return {r.url: r.h for r in df.select("url", F.xxhash64("url").alias("h")).collect()}

    def _write_target(self, rng):
        """Pristine target, partitioned by community the way the sink writes
        it: rows of earlier runs in every board community plus two
        communities no board writes to (left untouched)."""
        coms = sorted({b.community if not b.community.isdigit() else b.community + "p"
                       for b in self.boards}) + ["98p", "99p"]
        rows = []
        for com in coms:
            for i in range(40):
                rows.append({
                    "url": f"https://archive.example/{com}/{i}", "community": com,
                    "post_id": f"a{self.ctx.seed}-{i}", "category": "old",
                    "title": f"t{i}", "link": f"https://archive.example/{com}/{i}",
                    "writer": f"w{rng.randrange(1000)}",
                    "date": pd.Timestamp("2025-03-01", tz="UTC") + pd.Timedelta(minutes=i),
                    "views": rng.randrange(10**5), "recommend": rng.randrange(100),
                    "comments": None, "content": f"archived {com} {i}", "status": "ok",
                    "images_json": "[]",
                })
        df = pd.DataFrame(rows)
        self.pristine_keys = set(oracles.merge_keys(df))
        for com, part in df.groupby("community"):
            path = os.path.join(self.root, "target0", f"community={com}")
            os.makedirs(path)
            pq.write_table(pa.Table.from_pandas(part.drop(columns="community"),
                                                schema=TARGET_SCHEMA, preserve_index=False),
                           os.path.join(path, "part-0.parquet"), coerce_timestamps="us")

    def prepare_checks(self):
        pages_path = os.path.join(self.root, "pages.parquet")
        self.pdf[["url", "html"]].to_parquet(pages_path)
        self._start_server(pages_path)

    def _start_server(self, pages_path):
        if self.server is not None:
            return
        self.server = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "pageserver.py"),
             "--pages", pages_path, "--seed", str(self.ctx.seed),
             "--threads", str(self.ctx.cpus)],
            stdout=subprocess.PIPE, text=True,
        )
        self.port = int(self.server.stdout.readline())

    def _fetcher(self):
        self.epoch += 1
        port, epoch = self.port, self.epoch

        def transport(url, ua, timeout_s):
            return urllib_transport(
                f"http://127.0.0.1:{port}/page?e={epoch}&u={quote(url, safe='')}", ua, timeout_s)

        fetch = make_fetch_stage(transport=transport, min_interval_s=MIN_INTERVAL_S, **FETCH_RETRY)
        return fetch, epoch

    def _stats(self, epoch) -> dict:
        import json
        import urllib.request

        with urllib.request.urlopen(f"http://127.0.0.1:{self.port}/stats?e={epoch}", timeout=30) as r:
            return json.load(r)

    # -- one pass -------------------------------------------------------------

    def run_pass(self, tracer, traced: bool) -> dict:
        spark = self.spark
        state, target = os.path.join(self.root, "state"), os.path.join(self.root, "target")
        for src, dst in (("state0", state), ("target0", target)):
            shutil.rmtree(dst, ignore_errors=True)
            shutil.copytree(os.path.join(self.root, src), dst)
        before = oracles.partition_digests(target)
        fetch, epoch = self._fetcher()
        with tracer.span("recrawl.pass"):
            t0 = time.perf_counter()
            with tracer.span("cadence.crawl_tick") as tick_sp:
                crawl_tick(spark, state, fetcher=fetch, run_id=1, n_shards=N_SHARDS,
                           boards=self.boards, pages_per_round=TICK_PAGES_PER_ROUND,
                           min_interval_s=MIN_INTERVAL_S)
            batch = spark.read.parquet(os.path.join(state, "extracted/run=1"))
            with tracer.span("upsert.upsert_partitioned") as up_sp:
                touched = upsert_partitioned(spark, target, batch)
            wall = time.perf_counter() - t0
        stats = self._stats(epoch)
        got = pq.read_table(os.path.join(state, "extracted/run=1")).to_pandas()
        errors, false_drops = oracles.check_tick(got, self.expected, self.may_drop, self.texts)
        tgt = pq.read_table(target).to_pandas()
        tgt["community"] = tgt["community"].astype(str)
        errors += oracles.check_upsert(
            tgt, self.pristine_keys, set(oracles.merge_keys(got)), before,
            oracles.partition_digests(target), {f"community={c}" for c in touched})
        lists = {list_url(b, p) for b in self.boards for p in range(b.max_pages)}
        out = {
            "wall_s": wall, "items": stats["urls"], "errors": errors,
            "requests": {kind: sum(n for u, n in stats["hits"].items() if (u in lists) == is_list)
                         for kind, is_list in (("list", True), ("post", False))}
            | {"not_found": stats["not_found"]},
            "recall": (len(self.expected) - false_drops) / max(1, len(self.expected)),
            "false_drops": false_drops,
            "materialized_mb": self.ctx.status.materialized_mb() if traced else 0.0,
        }
        if traced:
            fill, fpr = bloom_fill(pq.read_table(os.path.join(state, "seen/v1"))["bloom"].to_pylist())
            layers = {
                "crawl.rounds": self._rounds(stats["hits"]),
                "crawl.jobs": tick_sp["jobs"], "crawl.driver_gap_ms": tick_sp["driver_gap_ms"],
                "seen.fill_ratio": fill, "seen.est_fpr": fpr, "seen.false_drops": false_drops,
                "politeness.min_host_gap_ms": stats["min_host_gap_ms"],
                "fetch.requests": stats["requests"],
                "fetch.attempts_per_url": stats["requests"] / max(1, stats["urls"]),
                "fetch.error_ratio": stats["faults"] / max(1, stats["requests"]),
                "fetch.server_ms_p50": stats["server_ms_p50"],
                "cadence.write_ms": sum(s["busy_ms"] for s in tick_sp["stages"]
                                        if s["name"].startswith("parquet at")),
                "cadence.seen_mb": dir_mb(os.path.join(state, "seen/v1")),
                "upsert.busy_ms": up_sp["busy_ms"], "upsert.rows_in": len(got),
                "upsert.partitions_touched": len(touched),
                "upsert.mb_written": sum(dir_mb(os.path.join(target, f"community={c}"))
                                         for c in touched),
            }
            self.replay(tracer, set(got["url"]),
                        lambda: spark.read.parquet(os.path.join(self.root, "state0/seen/v0")),
                        layers)
            fetch2, _ = self._fetcher()
            with tracer.span("fetch.fetch_stage") as sp:
                noop(fetch2(self.detail.select("url", "host")))
            layers["fetch.busy_ms"] = sp["busy_ms"]
            self.detail.unpersist()
            out["layers"] = layers
        return out

    def _rounds(self, requested) -> int:
        """Depth rounds, from the list pages the server was asked for: each
        round fetches the next ``TICK_PAGES_PER_ROUND`` pages of a live board."""
        by_board: dict[str, int] = {}
        for b in self.boards:
            for p in range(b.max_pages):
                by_board[list_url(b, p)] = b.board
        counts: dict[str, int] = {}
        for u in requested:
            if u in by_board:
                counts[by_board[u]] = counts.get(by_board[u], 0) + 1
        return max((math.ceil(c / TICK_PAGES_PER_ROUND) for c in counts.values()), default=0)

    def close(self):
        if self.server is not None:
            self.server.terminate()
            self.server.wait(timeout=30)
            self.server = None
