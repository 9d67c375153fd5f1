"""The benchmark's independent oracles and output checks (no Spark).

Run: python3 -m pytest crawlbench/tests/test_oracles.py -q
"""

import os
import sys

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from __spark_entry__ import _EXACT_JACCARD_ORACLE  # noqa: E402
from crawlbench import oracles  # noqa: E402
from politics_crawler_spark.config import RUN_DATE  # noqa: E402
from politics_crawler_spark.sources.synthetic_pages import (  # noqa: E402
    crawl_boards,
    synthesize_pages_pandas,
)
from tests.ref_simulator import simulate  # noqa: E402
from tools.check_oracle import canon  # noqa: E402
from tools.gen_sf_measure import gen_documents  # noqa: E402


@pytest.mark.parametrize("seed", [3, 11])
def test_numpy_near_dup_oracle_equals_duckdb(seed):
    docs = gen_documents(np.random.default_rng(seed), 250).to_pandas()
    # non-ASCII and short texts: grams are characters, not bytes
    extra = pd.DataFrame({
        "doc_id": [10_000, 10_001, 10_002, 10_003],
        "text": ["정치 토론 게시판 새 글", "정치 토론 게시판 새 댓글", "abc", "abcd"],
    })
    docs = pd.concat([docs[["doc_id", "text"]], extra], ignore_index=True)
    con = duckdb.connect()
    con.register("documents", pa.Table.from_pandas(docs, preserve_index=False))
    want = con.sql(_EXACT_JACCARD_ORACLE).df()
    got = oracles.exact_jaccard_pairs(docs["doc_id"], docs["text"])
    assert len(want) > 10  # the 5% near-dups are there
    assert oracles.check_exact(got, want, canon) == []
    assert ((10_000, 10_001) in set(zip(got["id_a"], got["id_b"]))) == (
        (10_000, 10_001) in set(zip(want["id_a"], want["id_b"])))


def test_duckdb_round_half_away_from_zero():
    assert oracles.duckdb_round(np.array([0.6666665, 0.1234565, 0.5]), 6).tolist() == [
        round(0.6666665 * 1e6 + 1e-9) / 1e6, 0.123457, 0.5]


def test_false_pair_and_wrong_jaccard_fail():
    texts = ["the quick brown fox jumps", "the quick brown fox jumped", "zzzzzzzzzz"]
    exact = oracles.exact_jaccard_pairs([1, 2, 3], texts)
    assert oracles.check_pairs(exact, exact) == ([], 1.0)
    false_pair = pd.concat([exact, pd.DataFrame({"id_a": [1], "id_b": [3], "jaccard": [0.9]})])
    errors, recall = oracles.check_pairs(false_pair, exact)
    assert errors and "false pair" in errors[0] and recall == 1.0
    skewed = exact.assign(jaccard=exact["jaccard"] + 1e-6)
    assert oracles.check_pairs(skewed, exact)[0]
    assert oracles.check_pairs(exact.iloc[:0], exact) == ([], 0.0)  # a miss costs recall only


def test_component_survivors_and_superset_check():
    pairs = pd.DataFrame({"id_a": [1, 2, 7], "id_b": [2, 3, 9]})
    exact = oracles.component_survivors(range(1, 11), pairs)
    assert exact == {1, 4, 5, 6, 7, 8, 10}
    assert oracles.check_survivors(sorted(exact | {3}), exact, range(1, 11)) == []
    assert oracles.check_survivors(sorted(exact - {4}), exact, range(1, 11))


@pytest.fixture(scope="module")
def crawl_case():
    boards = crawl_boards(1)
    pdf = synthesize_pages_pandas(900, seed=5)
    order, seen = simulate(dict(zip(pdf["url"], pdf["html"])), boards, RUN_DATE)
    texts = dict(zip(pdf["url"], pdf["text"]))
    got = pd.DataFrame(
        [(u, texts[u], r, p, i) for (r, p, i, u) in order],
        columns=["url", "content", "site_rank", "page_no", "row_idx"],
    )
    assert len(got) > 20
    return got, order, seen, texts


def test_crawl_check_accepts_the_simulator_answer(crawl_case):
    got, order, _, texts = crawl_case
    assert oracles.check_crawl(got.sample(frac=1, random_state=0), order, texts) == []


def test_crawl_check_catches_one_changed_content_byte(crawl_case):
    got, order, _, texts = crawl_case
    bad = got.copy()
    c = bad.at[7, "content"]
    bad.at[7, "content"] = c[:3] + ("x" if c[3] != "x" else "y") + c[4:]
    assert oracles.check_crawl(bad, order, texts)


def test_crawl_check_catches_one_dropped_row(crawl_case):
    got, order, _, texts = crawl_case
    assert oracles.check_crawl(got.drop(index=5), order, texts)


def test_crawl_check_catches_a_duplicate_and_a_reorder(crawl_case):
    got, order, _, texts = crawl_case
    assert oracles.check_crawl(pd.concat([got, got.iloc[:1]]), order, texts)
    swapped = got.copy()
    swapped.loc[[0, 1], "row_idx"] = swapped.loc[[1, 0], "row_idx"].to_numpy()
    swapped.loc[[0, 1], "page_no"] = swapped.loc[[1, 0], "page_no"].to_numpy()
    swapped.loc[[0, 1], "site_rank"] = swapped.loc[[1, 0], "site_rank"].to_numpy()
    assert oracles.check_crawl(swapped, order, texts)


def test_tick_check_counts_only_bloom_explained_drops(crawl_case):
    got, _, seen, texts = crawl_case
    expected = set(got["url"])
    ok, drops = oracles.check_tick(got, expected, set(), texts)
    assert ok == [] and drops == 0
    one = got["url"].iloc[3]
    dropped = got[got["url"] != one]
    errors, drops = oracles.check_tick(dropped, expected, set(), texts)
    assert errors and drops == 0
    errors, drops = oracles.check_tick(dropped, expected, {one}, texts)
    assert errors == [] and drops == 1
    bad = got.copy()
    bad.at[0, "content"] = bad.at[0, "content"] + " "
    assert oracles.check_tick(bad, expected, set(), texts)[0]


def test_upsert_check(tmp_path):
    target = pd.DataFrame({
        "post_id": ["1", "2", "N/A"], "community": ["1p", "2p", "3p"],
        "title": ["a", "b", "c"], "writer": ["x", "y", "z"],
    })
    pristine = {("pid", "1", "1p"), ("pid", "2", "2p")}
    batch = {("tw", "c", "z")}
    assert oracles.merge_keys(pd.DataFrame({
        "post_id": ["9"], "community": ["4"], "title": ["t"], "writer": ["w"],
    })) == [("pid", "9", "4p")]
    same = {"community=1p": "a"}
    assert oracles.check_upsert(target, pristine, batch, same, same, set()) == []
    assert oracles.check_upsert(pd.concat([target, target.iloc[:1]]), pristine, batch,
                                same, same, set())
    assert oracles.check_upsert(target.iloc[1:], pristine, batch, same, same, set())
    assert oracles.check_upsert(target, pristine, batch, same, {"community=1p": "b"}, set())
    assert oracles.check_upsert(target, pristine, batch, same, {"community=1p": "b"},
                                {"community=1p"}) == []
    part = tmp_path / "community=1p"
    part.mkdir()
    (part / "part-0.parquet").write_bytes(b"abc")
    d0 = oracles.partition_digests(str(tmp_path))
    (part / "part-0.parquet").write_bytes(b"abd")
    assert oracles.partition_digests(str(tmp_path)) != d0


def test_ann_recall():
    truth = {0: {1, 2}, 1: {0, 2}}
    got = pd.DataFrame({"query_id": [0, 0, 1, 1], "neighbor_id": [1, 3, 0, 2]})
    assert oracles.ann_recall(got, truth, k=2) == 0.75
    vecs = np.eye(4) + 0.01
    assert oracles.exact_topk(vecs, np.arange(4), [0], k=1)[0] <= {1, 2, 3}
