"""Independent answers and output checks for the benchmark workloads.

Nothing here touches Spark: every check takes plain Python / pandas /
Arrow values, so the checks can be exercised (and deliberately broken) in
unit tests without a session.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd

# ---------------------------------------------------------------------------
# exact near-duplicate pairs (the q15/q16 ground truth)
# ---------------------------------------------------------------------------


def char_grams(text: str, k: int = 5) -> set[str]:
    """Distinct character k-grams, exactly the grams of the DuckDB oracle
    ``list_transform(range(1, length(text) - 3), i -> substring(text, i, 5))``
    (1-based starts 1 .. length-4, i.e. every full 5-gram)."""
    return {text[i : i + k] for i in range(len(text) - k + 1)}


def duckdb_round(x: np.ndarray, digits: int = 6) -> np.ndarray:
    """DuckDB's ``round(DOUBLE, n)``: ``std::round(x * 10^n) / 10^n`` with
    halves rounded away from zero (numpy's ``round`` rounds halves to
    even). Inputs here are non-negative ratios."""
    mod = float(10**digits)
    v = np.asarray(x, dtype=np.float64) * mod
    r = np.floor(v)
    r += (v - r) >= 0.5
    return r / mod


def exact_jaccard_pairs(
    doc_ids, texts, k: int = 5, threshold: float = 0.5, block: int = 512
) -> pd.DataFrame:
    """All doc pairs (id_a < id_b) whose character-k-gram Jaccard is
    >= ``threshold``, as a gram-incidence matrix product.

    Same answer as ``_EXACT_JACCARD_ORACLE``: intersection over union of
    the distinct gram sets, divided as doubles, compared unrounded against
    the threshold and reported rounded to 6 digits the DuckDB way."""
    ids = np.asarray(doc_ids, dtype=np.int64)
    gram_sets = [char_grams(t, k) for t in texts]
    vocab: dict[str, int] = {}
    for gs in gram_sets:
        for g in gs:
            vocab.setdefault(g, len(vocab))
    inc = np.zeros((len(ids), max(1, len(vocab))), dtype=np.float32)
    for row, gs in enumerate(gram_sets):
        inc[row, [vocab[g] for g in gs]] = 1.0
    sizes = inc.sum(axis=1).astype(np.int64)

    out_a, out_b, out_j = [], [], []
    for lo in range(0, len(ids), block):
        hi = min(lo + block, len(ids))
        # counts are small integers, exact in float32
        inter = (inc[lo:hi] @ inc.T).astype(np.int64)
        union = sizes[lo:hi, None] + sizes[None, :] - inter
        with np.errstate(divide="ignore", invalid="ignore"):
            jac = inter.astype(np.float64) / union.astype(np.float64)
        ia = ids[lo:hi, None]
        keep = (jac >= threshold) & (ia < ids[None, :])
        r, c = np.nonzero(keep)
        out_a.append(ids[lo + r])
        out_b.append(ids[c])
        out_j.append(jac[r, c])
    a = np.concatenate(out_a) if out_a else np.zeros(0, np.int64)
    b = np.concatenate(out_b) if out_b else np.zeros(0, np.int64)
    j = np.concatenate(out_j) if out_j else np.zeros(0)
    df = pd.DataFrame({"id_a": a, "id_b": b, "jaccard": duckdb_round(j)})
    return df.sort_values(["id_a", "id_b"], ignore_index=True)


def component_survivors(doc_ids, pairs: pd.DataFrame) -> set[int]:
    """q33's exact answer: in the graph of exact near-dup pairs, the
    smallest id of every connected component survives."""
    parent = {int(d): int(d) for d in doc_ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs["id_a"], pairs["id_b"]):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {d for d in parent if find(d) == d}


def check_pairs(got: pd.DataFrame, exact: pd.DataFrame) -> tuple[list[str], float]:
    """Every returned pair must be a true pair carrying the exact rounded
    Jaccard (compared as ``tools/check_oracle.canon`` renders doubles). Returns
    (errors, recall against the exact pair set)."""
    want = {
        (int(a), int(b)): f"{j:.10g}"
        for a, b, j in zip(exact["id_a"], exact["id_b"], exact["jaccard"])
    }
    errors, seen = [], set()
    for a, b, j in zip(got["id_a"], got["id_b"], got["jaccard"]):
        key = (int(a), int(b))
        if key in seen:
            errors.append(f"duplicate pair {key}")
        seen.add(key)
        if key not in want:
            errors.append(f"false pair {key} jaccard={j}")
        elif f"{float(j):.10g}" != want[key]:
            errors.append(f"pair {key} jaccard {j} != exact {want[key]}")
    recall = len(seen & want.keys()) / len(want) if want else 1.0
    return errors, recall


def check_survivors(got_ids, exact_survivors: set[int], all_ids) -> list[str]:
    """q33: survivors are a duplicate-free superset of the exact
    components answer (missed pairs may only keep extra docs)."""
    got = [int(x) for x in got_ids]
    errors = []
    if len(got) != len(set(got)):
        errors.append("duplicate survivor ids")
    missing = exact_survivors - set(got)
    if missing:
        errors.append(f"{len(missing)} exact survivors dropped, e.g. {sorted(missing)[:5]}")
    unknown = set(got) - {int(x) for x in all_ids}
    if unknown:
        errors.append(f"unknown ids {sorted(unknown)[:5]}")
    return errors


# ---------------------------------------------------------------------------
# approximate nearest neighbours
# ---------------------------------------------------------------------------


def exact_topk(vectors: np.ndarray, ids: np.ndarray, query_ids, k: int = 10) -> dict:
    """Brute-force cosine top-k per query (query itself excluded)."""
    v = vectors / np.linalg.norm(vectors, axis=1, keepdims=True)
    pos = {int(i): n for n, i in enumerate(ids)}
    out = {}
    for q in query_ids:
        sims = v @ v[pos[int(q)]]
        sims[pos[int(q)]] = -np.inf
        top = np.argpartition(-sims, k)[:k]
        out[int(q)] = {int(ids[t]) for t in top}
    return out


def ann_recall(got: pd.DataFrame, truth: dict, k: int = 10) -> float:
    """Mean recall@k: returned (query_id, neighbor_id) hits over k per query."""
    hits = 0
    for q, n in zip(got["query_id"], got["neighbor_id"]):
        hits += int(n) in truth.get(int(q), ())
    return hits / (k * len(truth)) if truth else 1.0


# ---------------------------------------------------------------------------
# deterministic leaves: exact under tools/check_oracle.canon
# ---------------------------------------------------------------------------


def check_exact(got: pd.DataFrame, want: pd.DataFrame, canon) -> list[str]:
    if len(got) != len(want):
        return [f"rows {len(got)} != oracle {len(want)}"]
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"]
    a, b = canon(got), canon(want)
    if not a.equals(b):
        diff = (a != b).any(axis=1)
        return [f"{int(diff.sum())} rows differ, e.g. {a[diff].head(1).to_dict('records')}"]
    return []


# ---------------------------------------------------------------------------
# crawl outputs
# ---------------------------------------------------------------------------


def check_crawl(got: pd.DataFrame, sim_order: list[tuple], texts: dict) -> list[str]:
    """Snapshot crawl: final URL set and priority order equal the reference
    simulator's, every ``content`` equals the generator's ``text``, and no
    URL appears twice. ``got`` has url, content, site_rank, page_no,
    row_idx."""
    errors = []
    if got["url"].duplicated().any():
        errors.append(f"{int(got['url'].duplicated().sum())} duplicate urls")
    want = [u for (_, _, _, u) in sorted(sim_order)]
    if set(got["url"]) != set(want):
        extra = set(got["url"]) - set(want)
        missing = set(want) - set(got["url"])
        errors.append(f"url set differs: {len(extra)} extra, {len(missing)} missing")
    order = got.sort_values(["site_rank", "page_no", "row_idx"], kind="stable")["url"]
    if not errors and list(order) != want:
        errors.append("priority order differs from the simulator")
    errors += check_contents(got, texts)
    return errors


def check_contents(got: pd.DataFrame, texts: dict) -> list[str]:
    bad = [u for u, c in zip(got["url"], got["content"]) if texts.get(u) != c]
    return [f"{len(bad)} contents differ from the generator, e.g. {bad[:2]}"] if bad else []


def check_tick(
    got: pd.DataFrame, expected: set, may_drop: set, texts: dict
) -> tuple[list[str], int]:
    """Recrawl tick: exactly the simulator's posts that were not seen
    before. A post may be missing only when the prior bloom really holds
    its bits (``may_drop``); those are counted as false drops."""
    errors = []
    urls = set(got["url"])
    if got["url"].duplicated().any():
        errors.append(f"{int(got['url'].duplicated().sum())} duplicate urls")
    extra = urls - expected
    if extra:
        errors.append(f"{len(extra)} urls not in the expected new set, e.g. {sorted(extra)[:2]}")
    missing = expected - urls
    unexplained = missing - may_drop
    if unexplained:
        errors.append(f"{len(unexplained)} new posts missing, e.g. {sorted(unexplained)[:2]}")
    errors += check_contents(got, texts)
    return errors, len(missing & may_drop)


def merge_keys(df: pd.DataFrame) -> list[tuple]:
    """The upsert sink's merge key, recomputed in pandas: (post_id,
    community) when post_id is set, else (title, writer). Community codes
    are normalized the way the sink does (bare digits gain a ``p``)."""
    keys = []
    for pid, com, title, writer in zip(df["post_id"], df["community"], df["title"], df["writer"]):
        if isinstance(com, str) and com.isdigit():
            com = com + "p"
        if pid is not None and pid not in ("", "N/A"):
            keys.append(("pid", pid, com))
        elif title and writer:
            keys.append(("tw", title, writer))
    return keys


def check_upsert(
    target: pd.DataFrame, pristine_keys: set, batch_keys: set,
    before: dict, after: dict, touched: set,
) -> list[str]:
    """After the upsert the target holds the pristine keys plus the batch's
    keys, once each, and every partition the batch did not touch is
    byte-identical (``before``/``after`` map partition dir -> digest)."""
    errors = []
    keys = merge_keys(target)
    if len(keys) != len(set(keys)):
        errors.append(f"{len(keys) - len(set(keys))} duplicate keys in target")
    if set(keys) != pristine_keys | batch_keys:
        errors.append(
            f"target keys differ: {len(set(keys) - pristine_keys - batch_keys)} unexpected, "
            f"{len((pristine_keys | batch_keys) - set(keys))} missing"
        )
    for part, digest in before.items():
        if part not in touched and after.get(part) != digest:
            errors.append(f"untouched partition {part} changed")
    return errors


def partition_digests(root: str) -> dict[str, str]:
    """Digest of every ``col=value`` partition dir's data files (names and
    bytes), so an untouched partition can be shown byte-identical."""
    out = {}
    for part in sorted(os.listdir(root)):
        path = os.path.join(root, part)
        if "=" not in part or not os.path.isdir(path):
            continue
        h = hashlib.sha256()
        for name in sorted(os.listdir(path)):
            if name.startswith((".", "_")):
                continue
            h.update(name.encode())
            with open(os.path.join(path, name), "rb") as f:
                h.update(f.read())
        out[part] = h.hexdigest()
    return out
