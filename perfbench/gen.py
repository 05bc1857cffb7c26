"""Seeded input generator for the benchmark.

Everything a run consumes is derived from one integer seed:

- ``write_tables``: the tables the query and batch workloads read
  (``documents``, ``embeddings``, ``orders``, ``lineitem``, ``customer``),
  with the same column names and types as the engine's test tables, a
  Zipf-distributed vocabulary, and ``dup_rate`` of the documents and
  vectors written as near-duplicate variants of earlier rows;
- ``query_stream``: the parameters of the query workload's requests;
- ``write_tree`` / ``changesets``: the batch workload's multi-language
  source tree and the sequence of edits applied to it.

Each generator returns a small dict of what it made (seed, rows, files,
bytes, injected duplicate rate) that the run prints with its record.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_WORDS = (
    "scan column window order sort part agg value line key join merge group "
    "query vector hash slow stream filter fast the batch spark table small "
    "data big customer row index cache shard graph edge node rank score"
).split()
SYLLABLES = ["ka", "lo", "mi", "ter", "sun", "dra", "vel", "op", "ix", "ru", "ben", "cor"]
LANGS = ("en", "en", "en", "fr", "es", "de", "zh")
DIM = 64


def vocabulary(size: int = 240) -> list[str]:
    """Fixed vocabulary: the base words, then two-syllable synthetic words."""
    words = list(BASE_WORDS)
    for a in SYLLABLES:
        for b in SYLLABLES:
            if len(words) >= size:
                return words
            w = a + b
            if w not in words:
                words.append(w)
    return words


def zipf_weights(n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def write_tables(out_dir: str, seed: int, *, n_docs: int, n_orders: int, dup_rate: float) -> dict:
    """Write the seeded tables as parquet under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    vocab = vocabulary()
    weights = zipf_weights(len(vocab))

    texts: list[str] = []
    dup_of: list[int] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < dup_rate:
            src = int(rng.integers(0, i))
            words = texts[src].split()
            for _ in range(max(1, len(words) // 25)):
                words[int(rng.integers(0, len(words)))] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(words))
            dup_of.append(src)
        else:
            n = int(rng.integers(12, 60))
            texts.append(" ".join(vocab[j] for j in rng.choice(len(vocab), n, p=weights)))
            dup_of.append(-1)
    langs = [LANGS[int(x)] for x in rng.integers(0, len(LANGS), n_docs)]
    documents = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 5}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    centers = rng.normal(size=(16, DIM))
    labels = rng.integers(0, 16, n_docs)
    vecs = centers[labels] + 0.6 * rng.normal(size=(n_docs, DIM))
    for i, src in enumerate(dup_of):
        if src >= 0:
            vecs[i] = vecs[src] + 0.01 * rng.normal(size=DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": pa.array(range(n_docs), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels % 10, pa.int32()),
        }
    )

    n_cust = max(10, n_orders // 10)
    n_parts = max(20, n_orders // 8)
    custkeys = rng.choice(n_cust, n_orders, p=zipf_weights(n_cust, 1.0))
    base = dt.datetime(1995, 1, 1)
    orders = pa.table(
        {
            "o_orderkey": pa.array(range(n_orders), pa.int64()),
            "o_custkey": pa.array(custkeys, pa.int64()),
            "o_orderstatus": [("F", "O", "P")[int(x)] for x in rng.integers(0, 3, n_orders)],
            "o_totalprice": np.round(rng.uniform(1000, 300000, n_orders), 2),
            "o_orderdate": pa.array(
                [base + dt.timedelta(days=int(d)) for d in rng.integers(0, 2400, n_orders)],
                pa.timestamp("us"),
            ),
            "o_orderpriority": [
                ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")[int(x)]
                for x in rng.integers(0, 5, n_orders)
            ],
        }
    )
    per_order = rng.integers(1, 7, n_orders)
    l_order = np.repeat(np.arange(n_orders), per_order)
    n_lines = len(l_order)
    l_linenumber = np.concatenate([np.arange(1, k + 1) for k in per_order])
    qty = rng.integers(1, 51, n_lines).astype(float)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.choice(n_parts, n_lines, p=zipf_weights(n_parts, 1.0)), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 10, n_lines), pa.int64()),
            "l_linenumber": pa.array(l_linenumber, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_lines), 2),
            "l_discount": np.round(rng.integers(0, 11, n_lines) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_lines) / 100.0, 2),
            "l_returnflag": [("A", "N", "R")[int(x)] for x in rng.integers(0, 3, n_lines)],
            "l_linestatus": [("F", "O")[int(x)] for x in rng.integers(0, 2, n_lines)],
            "l_shipdate": pa.array(
                [base + dt.timedelta(days=int(d)) for d in rng.integers(0, 2500, n_lines)],
                pa.timestamp("us"),
            ),
        }
    )
    segments = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    customer = pa.table(
        {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": [segments[int(x)] for x in rng.integers(0, 5, n_cust)],
        }
    )
    tables = {
        "documents": documents,
        "embeddings": embeddings,
        "orders": orders,
        "lineitem": lineitem,
        "customer": customer,
    }
    nbytes = 0
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path)
        nbytes += os.path.getsize(path)
    return {
        "seed": seed,
        "rows": {name: t.num_rows for name, t in tables.items()},
        "bytes": nbytes,
        "dup_rate": dup_rate,
        "dup_rows": sum(1 for d in dup_of if d >= 0),
    }


# -- query workload parameters ----------------------------------------------

SURFACES = ("search", "exact", "files", "graph", "hybrid")


FTS_FORMS = ("term", "and", "or_not", "phrase", "prefix")
KINDS = {
    "search": ("knn_topk", "semantic_search"),
    "exact": FTS_FORMS,
    "files": ("filter", "join", "group", "order"),
    "graph": ("callees", "callers", "impact", "shortest_path"),
    "hybrid": ("hybrid_search_rrf",),
}
# one round: every operation kind once, surfaces interleaved; the stream
# repeats it, so every seed runs the same mix and the seed draws only the
# literals, roots and terms
ROUND = [(s, KINDS[s][j]) for j in range(max(map(len, KINDS.values())))
         for s in SURFACES if j < len(KINDS[s])]


def _fts_query(rng: random.Random, form: str, vocab: list[str], cum: np.ndarray) -> str:
    def term() -> str:
        return vocab[int(np.searchsorted(cum, rng.random()))]

    if form == "term":
        return term()
    if form == "and":
        return f"{term()} {term()}"
    if form == "or_not":
        return f"{term()} OR {term()} NOT {term()}"
    if form == "phrase":
        return f'"{term()} {term()}"'
    return term()[:3] + "*"


def query_stream(seed: int, n: int, *, n_docs: int, n_orders: int) -> list[dict]:
    """``n`` request parameter sets in repeated ``ROUND`` order, parameters
    drawn from the seed."""
    rng = random.Random(seed)
    vocab = vocabulary()
    cum = np.cumsum(zipf_weights(len(vocab)))
    out = []
    for i in range(n):
        surface, kind = ROUND[i % len(ROUND)]
        if kind == "knn_topk":
            p = {"op": kind, "vec_id": rng.randrange(n_docs), "k": rng.choice((10, 15, 20))}
        elif kind == "semantic_search":
            words = " ".join(rng.choice(vocab[:40]) for _ in range(rng.randint(2, 4)))
            p = {"op": kind, "text": words, "limit": 15, "lang": rng.choice(("en", "fr", "es"))}
        elif surface == "exact":
            p = {"op": "fts_search", "q": _fts_query(rng, kind, vocab, cum),
                 "limit": rng.choice((10, 15, 20))}
        elif surface == "files":
            p = {"op": "dsl", "shape": kind, "qty": rng.randint(5, 45), "flag": rng.choice("ANR"),
                 "limit": rng.choice((10, 20, 50))}
        elif surface == "graph":
            # the depth sets how many joins a traversal plans and runs, so it
            # is fixed, not drawn: only the roots vary with the seed
            p = {"op": kind, "root": rng.randrange(n_orders), "depth": 3}
        else:
            lex = " OR ".join(rng.choice(vocab[:60]) for _ in range(3))
            sem = " ".join(rng.choice(vocab[:60]) for _ in range(3))
            p = {"op": kind, "lex": lex, "sem": sem, "k": 15}
        p["surface"], p["kind"] = surface, kind
        out.append(p)
    return out


# -- index workload: source tree and changesets ------------------------------

LANG_EXT = ("py", "go", "ts", "java", "rs")


def _function_src(ext: str, name: str, callees: list[str], salt: int) -> str:
    calls_py = "".join(f"    {c}(x)\n" for c in callees)
    calls_c = "".join(f"\t{c}(x);\n" for c in callees)
    if ext == "py":
        return f"def {name}(x, y={salt}):\n    if x > y:\n        return x\n{calls_py}    return y\n\n"
    if ext == "go":
        return f"func {name}(x int) int {{\n\tif x > {salt} {{\n\t\treturn x\n\t}}\n{calls_c}\treturn {salt}\n}}\n\n"
    if ext == "ts":
        return f"export function {name}(x: number): number {{\n  if (x > {salt}) {{ return x; }}\n{calls_c}  return {salt};\n}}\n\n"
    if ext == "java":
        return f"    static int {name}(int x) {{\n        if (x > {salt}) {{ return x; }}\n{calls_c}        return {salt};\n    }}\n\n"
    return f"fn {name}(x: i64) -> i64 {{\n    if x > {salt} {{ return x; }}\n{calls_c}    {salt}\n}}\n\n"


def _file_src(ext: str, fid: int, n_funcs: int, n_files: int, rng: random.Random, version: int) -> str:
    body = []
    for j in range(n_funcs):
        callees = [f"f{rng.randrange(n_files)}_{rng.randrange(n_funcs)}" for _ in range(rng.randint(0, 3))]
        body.append(_function_src(ext, f"f{fid}_{j}", callees, version * 100 + j))
    text = "".join(body)
    if ext == "go":
        return f"package m{fid}\n\n" + text
    if ext == "java":
        return f"class C{fid} {{\n" + text + "}\n"
    return text


def write_tree(root: str, seed: int, *, n_files: int, funcs_per_file: int) -> dict:
    """Write the seeded source tree: ``n_files`` files over five languages."""
    rng = random.Random(seed)
    nbytes = 0
    for fid in range(n_files):
        nbytes += _write_file(root, fid, rng, n_files, funcs_per_file, 0)
    return {"seed": seed, "files": n_files, "bytes": nbytes, "funcs_per_file": funcs_per_file}


def tree_path(root: str, fid: int) -> str:
    return os.path.join(root, f"pkg{fid % 8}", f"mod{fid}.{LANG_EXT[fid % len(LANG_EXT)]}")


def _write_file(root: str, fid: int, rng: random.Random, n_files: int, funcs: int, version: int) -> int:
    path = tree_path(root, fid)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    data = _file_src(LANG_EXT[fid % len(LANG_EXT)], fid, funcs, n_files, rng, version).encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def changesets(seed: int, n: int, *, n_files: int) -> list[list[tuple[str, int]]]:
    """``n`` changesets; each is a list of (kind, file id) edits with kind
    one of add / modify / touch / delete. Adds use fresh file ids."""
    rng = random.Random(seed * 7919 + 1)
    live = list(range(n_files))
    next_id = n_files
    out = []
    for i in range(n):
        edits = []
        # adds and deletes alternate, so the tree keeps its size
        for kind in ("modify", "modify", "touch", ("add", "delete")[i % 2]):
            if kind == "add":
                edits.append(("add", next_id))
                live.append(next_id)
                next_id += 1
            else:
                fid = live[rng.randrange(len(live))]
                while any(fid == e[1] for e in edits):
                    fid = live[rng.randrange(len(live))]
                edits.append((kind, fid))
                if kind == "delete":
                    live.remove(fid)
        out.append(edits)
    return out


def apply_edits(root: str, seed: int, edits: list[tuple[str, int]], *, n_files: int,
                funcs_per_file: int, version: int) -> None:
    """Apply one changeset to the tree on disk."""
    rng = random.Random(seed * 31 + version)
    for kind, fid in edits:
        path = tree_path(root, fid)
        if kind in ("add", "modify"):
            _write_file(root, fid, rng, n_files, funcs_per_file, version)
        elif kind == "touch":
            st = os.stat(path)
            os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000 * version))
        else:
            os.remove(path)
