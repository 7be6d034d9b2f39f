"""Independent correctness checks of the results the harness saved.

* Registry rows with an oracle: the row's DuckDB SQL runs over the same
  parquet inputs and the two results must match exactly after the
  column-name and row sort the registry's oracle contract defines.
* MinHash/components rows (q42, q72, q90, q92): the generator plants the
  only near-duplicate families, so the expected pairs are the pairs inside
  a family whose exact 3-gram Jaccard reaches the threshold, recomputed
  here; any further reported pair must itself pass an exact recheck.
* LSH ANN (q47): mean recall of the reported neighbours against an exact
  top-5 computed in DuckDB.

Each check returns "" when the result is correct, else a message.
"""
import os

import duckdb
import pandas as pd

THRESHOLD = 0.5
SEED_OFFSET = 1000000
MARKER = " appended marker token"


def _read(con, path):
    src = path if path.endswith(".parquet") and os.path.isfile(path) else f"{path}/*.parquet"
    return con.execute(f"SELECT * FROM read_parquet('{src}')").fetchdf()


def connect(table_dir, tables, temp_dir):
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    for t in tables:
        p = os.path.join(table_dir, f"{t}.parquet")
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def _cells(df):
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda x: tuple(x.tolist()) if hasattr(x, "tolist")
                              and not isinstance(x, (str, bytes)) else x)
    return df


def compare_frames(a, b):
    a = _cells(a.reindex(sorted(a.columns), axis=1))
    b = _cells(b.reindex(sorted(b.columns), axis=1))
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs oracle {list(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows vs oracle {len(b)}"
    a = a.sort_values(list(a.columns)).reset_index(drop=True)
    b = b.sort_values(list(b.columns)).reset_index(drop=True)
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return "value mismatch: " + " ".join(str(e).split("\n")[:4])
    return ""


def oracle(con, sql, result_path):
    return compare_frames(_read(con, result_path), con.execute(sql).fetchdf())


def trigrams(text):
    toks = text.strip().lower().split()
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def jaccard(a, b):
    u = len(a | b)
    return len(a & b) / u if u else 0.0


class Families:
    """The planted near-duplicate structure of the seeded, K-times scaled
    corpus (documents plus the rows' re-keyed marker copies of every tenth
    document)."""

    def __init__(self, docs, dup_of, k):
        self.text = {int(i): t for i, t in zip(docs["doc_id"], docs["text"])}
        for i in [i for i in self.text if i % 10 == 0]:
            self.text[i + SEED_OFFSET] = self.text[i] + MARKER
        parent = {}

        def find(x):
            while parent.get(x, x) != x:
                x = parent[x]
            return x

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        for i, j in dup_of.items():
            for c in range(k):
                union(int(i) * k + c, int(j) * k + c)
        for i in self.text:
            if i < SEED_OFFSET:
                for c in range(1, k):
                    union(i - i % k, i - i % k + c)
                if i % 10 == 0:
                    union(i, i + SEED_OFFSET)
        groups = {}
        for i in self.text:
            groups.setdefault(find(i), []).append(i)
        self.groups = [sorted(g) for g in groups.values() if len(g) > 1]
        self._sh = {}

    def shingles(self, i):
        if i not in self._sh:
            self._sh[i] = trigrams(self.text[i])
        return self._sh[i]

    def exact(self, a, b):
        return jaccard(self.shingles(a), self.shingles(b))

    def expected_pairs(self):
        out = {}
        for g in self.groups:
            for x in range(len(g)):
                for y in range(x + 1, len(g)):
                    j = self.exact(g[x], g[y])
                    if j >= THRESHOLD:
                        out[(g[x], g[y])] = round(j, 6)
        return out


def check_pairs(fam, result):
    """q42: reported pairs equal the verified pair set."""
    got = {(int(a), int(b)): float(j) for a, b, j in
           zip(result["id_a"], result["id_b"], result["jaccard"])}
    want = fam.expected_pairs()
    for (a, b), j in got.items():
        if (a, b) not in want:
            exact = fam.exact(a, b) if a in fam.text and b in fam.text else -1
            if exact < THRESHOLD or abs(round(exact, 6) - j) > 1e-6:
                return f"pair ({a}, {b}) reported with {j}, exact Jaccard {exact:.6f}"
            want[(a, b)] = j
        elif abs(want[(a, b)] - j) > 1e-6:
            return f"pair ({a}, {b}) Jaccard {j}, exact {want[(a, b)]}"
    missing = sorted(set(want) - set(got))
    return f"{len(missing)} near-duplicate pairs missed, e.g. {missing[:3]}" if missing else ""


def components(pairs):
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {}
    for a, b in pairs:
        for x in (a, b):
            comp.setdefault(find(x), set()).add(x)
    return comp


def check_clusters(fam, result):
    """q72/q92: one row per clustered doc with its component's minimum id
    as cluster id, the component size and the canonical flag."""
    want = set()
    for root, members in components(fam.expected_pairs()).items():
        for m in members:
            want.add((m, root, len(members), m == root))
    got = {(int(d), int(c), int(n), bool(k)) for d, c, n, k in zip(
        result["doc_id"], result["cluster_id"], result["cluster_size"], result["is_canonical"])}
    if got != want:
        return f"clusters differ: {len(got - want)} unexpected rows, {len(want - got)} missing"
    return ""


def check_canonical(fam, result):
    """q90: per cluster, the kept doc has the most tokens (lowest id wins)."""
    want = set()
    for root, members in components(fam.expected_pairs()).items():
        ntok = {m: len(fam.text[m].strip().lower().split()) for m in members}
        top = max(ntok.values())
        want.add((root, len(members), min(m for m in members if ntok[m] == top), top))
    got = {(int(c), int(n), int(d), int(t)) for c, n, d, t in zip(
        result["cluster_id"], result["cluster_size"], result["kept_doc"], result["kept_tokens"])}
    if got != want:
        return f"canonical picks differ: {len(got - want)} unexpected, {len(want - got)} missing"
    return ""


EXACT_TOP5 = """
    WITH sims AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])) AS s
      FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < 10)
    SELECT query_id, neighbor_id FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS r
      FROM sims) WHERE r <= 5"""


def check_recall(con, result, floor=0.6):
    """q47: the queries' mean recall of their exact top-5 is at least
    `floor`. Recall is a property of the index over many queries (as the
    registry's q49b audit treats it); a single query with five neighbours
    moves in steps of 0.2."""
    exact = con.execute(EXACT_TOP5).fetchdf()
    want = exact.groupby("query_id")["neighbor_id"].apply(set).to_dict()
    got = result.groupby("query_id")["neighbor_id"].apply(set).to_dict()
    recalls = [len(ns & got.get(q, set())) / len(ns) for q, ns in want.items()]
    mean = sum(recalls) / len(recalls)
    if mean < floor:
        return f"mean LSH recall {mean:.2f} < {floor} (per query {recalls})"
    return ""


def check_results(table_dir, tables, results, oracles, temp_dir, dup_of=None, k=1):
    """label -> "" or a failure message, for every saved result."""
    con = connect(table_dir, tables, temp_dir)
    fam = None
    out = {}
    for label, path in results.items():
        try:
            if label in ("q42_dedup_minhash_lsh", "q72_dedup_clusters",
                         "q90_cluster_canonical", "q92_incremental_dedup"):
                if fam is None:
                    fam = Families(con.execute("SELECT doc_id, text FROM documents").fetchdf(),
                                   dup_of, k)
                res = _read(con, path)
                out[label] = {"q42_dedup_minhash_lsh": check_pairs,
                              "q72_dedup_clusters": check_clusters,
                              "q92_incremental_dedup": check_clusters,
                              "q90_cluster_canonical": check_canonical}[label](fam, res)
            elif label == "q47_ann_lsh":
                out[label] = check_recall(con, _read(con, path))
            elif label in oracles:
                out[label] = oracle(con, oracles[label], path)
            else:
                out[label] = "no independent check for this result"
        except Exception as e:  # a check that cannot run is a failed check
            out[label] = f"check error: {e}"
    return out
