"""Output checks computed apart from the program: union-find, hashlib,
contingency F1, DuckDB and numpy. Each check returns a list of problems
(empty when the output is right)."""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict


def union_find(edges) -> dict:
    """url -> min url of its connected component, over (url_a, url_b) pairs."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return {u: find(u) for u in parent}


def check_clusters(clusters, edges, urls, html) -> list[str]:
    """``clusters``: (url, cluster_id, canonical_url) rows; ``edges``:
    (url_a, url_b) rows; ``urls``/``html``: the input snapshot."""
    problems = []
    label = {}
    members = defaultdict(list)
    for u, cid, canon in clusters:
        if cid != canon:
            problems.append(f"cluster_id != canonical_url for {u}")
        if u in label:
            problems.append(f"url {u} in two clusters")
        label[u] = cid
        members[cid].append(u)
    for cid, ms in members.items():
        if cid != min(ms):
            problems.append(f"cluster_id {cid} is not the min url of its members")
    uf = union_find((a, b) for a, b in edges if a != b)
    if uf != label:
        diff = set(uf.items()) ^ set(label.items())
        problems.append(f"union-find over the edges differs from the clusters on {len(diff)} urls")
    by_hash = defaultdict(list)
    for u, h in zip(urls, html):
        by_hash[hashlib.sha256(h).digest()].append(u)
    split = sum(
        1 for us in by_hash.values()
        if len(us) > 1 and len({label.get(u) for u in us}) != 1
        or len(us) > 1 and us[0] not in label
    )
    if split:
        problems.append(f"{split} groups of byte-identical pages are not in one cluster")
    return problems[:10]


def pair_f1(label: dict, urls, family, html) -> float:
    """Pairwise F1 of the predicted clusters against the planted families.

    Byte-identical pages are first collapsed to one representative (their
    sharing a cluster is checked apart, in check_clusters), so the score
    measures the near-copy and hard-negative decisions instead of being
    swamped by the quadratic pair count of large exact groups."""
    rep = {}
    for u, f, h in zip(urls, family, html):
        key = hashlib.sha256(h).digest()
        if key not in rep or u < rep[key][0]:
            rep[key] = (u, f)

    def pairs(counter) -> int:
        return sum(n * (n - 1) // 2 for n in counter.values())

    true_c, pred_c, both_c = Counter(), Counter(), Counter()
    for u, f in rep.values():
        p = label.get(u, ("singleton", u))
        true_c[f] += 1
        pred_c[p] += 1
        both_c[(f, p)] += 1
    tp, n_true, n_pred = pairs(both_c), pairs(true_c), pairs(pred_c)
    precision = tp / n_pred if n_pred else 1.0
    recall = tp / n_true if n_true else 1.0
    return 2 * precision * recall / (precision + recall) if precision + recall else 0.0


# -- querysuite ----------------------------------------------------------------


def value_hash(df) -> str:
    """Order-insensitive hash of a pandas frame's values (floats at 6 places)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if col.dtype == object:
            df[c] = col.map(str)
        elif str(col.dtype).startswith("float"):
            df[c] = col.astype("float64").round(6)
    h = hashlib.md5()
    for r in sorted(tuple(r) for r in df.itertuples(index=False, name=None)):
        h.update(repr(r).encode())
    return h.hexdigest()


def check_against_oracle(name: str, got, con, sql: str) -> list[str]:
    want = con.sql(sql).df()
    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)} != oracle {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, oracle {len(want)}"]
    if len(got) == 0:
        return [f"{name}: empty answer checks nothing"]
    if value_hash(got) != value_hash(want):
        return [f"{name}: value hash differs from the oracle"]
    return []


def _load_vectors(path: str):
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(path).sort_by("vec_id")
    ids = t.column("vec_id").to_numpy()
    X = np.vstack(t.column("embedding").to_pylist()).astype(np.float64)
    return ids, X / np.linalg.norm(X, axis=1, keepdims=True)


def ann_recall_at_k(got, emb_path: str, n_queries: int, k: int) -> float:
    """Share of the brute-force top-k (sim desc, id asc; the query itself
    excluded) that the ANN answer recovers."""
    import numpy as np

    ids, Xn = _load_vectors(emb_path)
    truth = set()
    for qi in range(n_queries):
        sims = np.round(Xn @ Xn[qi], 4)
        sims[qi] = -np.inf
        order = np.lexsort((ids, -sims))[:k]
        truth |= {(int(ids[qi]), int(ids[j])) for j in order}
    have = {(int(q), int(n)) for q, n in zip(got["query_id"], got["neighbor_id"])}
    return len(truth & have) / len(truth)


def semantic_pairs_check(got, emb_path: str, tau: float) -> tuple[list[str], float]:
    """Every emitted pair must have cosine >= tau (numpy, same rounding);
    returns problems and recall against brute force."""
    import numpy as np

    ids, Xn = _load_vectors(emb_path)
    S = np.round(Xn @ Xn.T, 4)
    iu = np.triu_indices(len(ids), k=1)
    mask = S[iu] >= tau
    truth = {(int(ids[i]), int(ids[j])) for i, j in zip(iu[0][mask], iu[1][mask])}
    have = {(int(a), int(b)) for a, b in zip(got["vec_id_a"], got["vec_id_b"])}
    problems = []
    if have - truth:
        problems.append(f"semantic_dedup_embeddings: {len(have - truth)} pairs below cosine {tau}")
    return problems, len(have & truth) / max(1, len(truth))
