"""Output checks, run after the driver process has exited.

Every op output the driver wrote is compared in DuckDB with its
``oracle_sql()`` twin over the same generated inputs: same column
names, same multiset of rows (``EXCEPT ALL`` both ways) after each
value is normalised by type — floating and decimal values to a double
rounded to 6 places, timestamps to naive UTC, integers to BIGINT.
"""

from __future__ import annotations

import hashlib
import os
import re
from collections import defaultdict

import duckdb

import __spark_entry__

_FLOATS = ("FLOAT", "DOUBLE", "DECIMAL", "REAL")
_INTS = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UBIGINT", "UINTEGER")


def connect(work: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb_tmp')}'")
    con.execute("SET threads = 4")
    return con


def parquet(path: str) -> str:
    """DuckDB source for a parquet file or a Spark-written directory."""
    if os.path.isdir(path):
        return f"read_parquet('{path}/*.parquet')"
    return f"read_parquet('{path}')"


def _normalised(con, sql: str) -> tuple[list[str], str]:
    cols = con.execute(f"DESCRIBE ({sql})").fetchall()
    exprs = []
    for name, typ, *_ in cols:
        q = f'"{name}"'
        if typ.startswith(_FLOATS):
            e = f"round(CAST({q} AS DOUBLE), 6)"
        elif typ.startswith("TIMESTAMP"):
            e = f"CAST({q} AS TIMESTAMP)"
        elif typ in _INTS:
            e = f"CAST({q} AS BIGINT)"
        else:
            e = q
        exprs.append(f"{e} AS {q}")
    names = sorted(c[0] for c in cols)
    return names, f"SELECT {', '.join(exprs)} FROM ({sql})"


def diff(con, got_sql: str, want_sql: str) -> str | None:
    """None when both queries give the same rows, else a one-line reason."""
    got_cols, got = _normalised(con, got_sql)
    want_cols, want = _normalised(con, want_sql)
    if got_cols != want_cols:
        return f"columns differ: got {got_cols}, want {want_cols}"
    order = ", ".join(f'"{c}"' for c in want_cols)
    extra = con.execute(
        f"SELECT count(*) FROM (SELECT {order} FROM ({got}) EXCEPT ALL SELECT {order} FROM ({want}))"
    ).fetchone()[0]
    missing = con.execute(
        f"SELECT count(*) FROM (SELECT {order} FROM ({want}) EXCEPT ALL SELECT {order} FROM ({got}))"
    ).fetchone()[0]
    if extra or missing:
        n_got = con.execute(f"SELECT count(*) FROM ({got})").fetchone()[0]
        return f"{extra} unexpected and {missing} missing rows (got {n_got})"
    return None


def _views(con, data: str, names) -> None:
    for name in names:
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM {parquet(os.path.join(data, name + '.parquet'))}")


def check_oracles(con, data: str, out: str, tables, ops) -> dict[str, str | None]:
    """Each op's output directory against its oracle over ``tables``."""
    _views(con, data, tables)
    oracles = __spark_entry__.oracle_sql()
    return {op: diff(con, f"SELECT * FROM {parquet(os.path.join(out, op))}", oracles[op]) for op in ops}


def check_ingest(con, data: str, out: str) -> str | None:
    """The JSONL round trip returns exactly the slice it was given."""
    cols = "event_id, ts, user_id, event_type, value, props"
    return diff(
        con,
        f"SELECT {cols} FROM {parquet(os.path.join(out, 'ingest'))}",
        f"SELECT {cols} FROM {parquet(os.path.join(data, 'ingest_slice.parquet'))}",
    )


def minhash_lsh_pairs(con, oracle: str) -> list[tuple[int, int, float]]:
    """``dedup_minhash_lsh`` evaluated in Python from its oracle's own
    definition: distinct 3-token shingles, md5-prefix hashes XOR the
    oracle's 16 seeds, 4 bands of 4 slots, any shared band makes a
    candidate, ``pround(matching slots / 16) >= threshold`` keeps it.
    DuckDB takes ~30 s for the oracle's shingle lambdas on this corpus;
    this takes about a second."""
    seeds = [int(x) for x in re.findall(r"xor\(hs, (\d+)\)", oracle)]
    threshold = float(re.findall(r">= ([0-9.]+)\s*$", oracle.strip())[0])
    n_bands = len(seeds) // 4
    sigs: dict[int, tuple[int, ...]] = {}
    for doc_id, text in con.execute("SELECT doc_id, text FROM documents").fetchall():
        toks = re.split(r"\s+", text.lower().strip(" "))
        shingles = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        if not shingles:
            continue
        hs = [int(hashlib.md5(x.encode()).hexdigest()[:15], 16) for x in shingles]
        sigs[doc_id] = tuple(min(h ^ s for h in hs) for s in seeds)
    buckets: dict[tuple[int, str], list[int]] = defaultdict(list)
    for doc_id, sig in sigs.items():
        for b in range(n_bands):
            key = ",".join(str(m) for m in sig[4 * b : 4 * b + 4])
            buckets[(b, hashlib.md5(key.encode()).hexdigest())].append(doc_id)
    cand = {(a, b) for docs in buckets.values() for a in docs for b in docs if a < b}
    out = []
    for a, b in cand:
        raw = sum(x == y for x, y in zip(sigs[a], sigs[b])) / len(seeds)
        sim = pround(raw)
        if sim >= threshold:
            out.append((a, b, sim))
    return out


def pround(x: float) -> float:
    """The oracles' portable 4-place rounding, floor(x * 1e4 + 0.5) / 1e4."""
    import math

    return math.floor(float(x) * 10000.0 + 0.5) / 10000.0


def check_minhash_lsh(con, out: str) -> str | None:
    pairs = minhash_lsh_pairs(con, __spark_entry__.oracle_sql()["dedup_minhash_lsh"])
    con.execute("CREATE OR REPLACE TEMP TABLE lsh_want (doc_a BIGINT, doc_b BIGINT, sig_sim DOUBLE)")
    if pairs:
        con.executemany("INSERT INTO lsh_want VALUES (?, ?, ?)", pairs)
    return diff(con, f"SELECT * FROM {parquet(os.path.join(out, 'dedup_minhash_lsh'))}", "SELECT * FROM lsh_want")


def check_clusters(con, out: str) -> str | None:
    """``dedup_clusters`` against the connected components (labelled by
    their smallest doc_id) of the already-checked ``dedup_minhash_lsh``
    pairs, found here by union-find."""
    pairs = con.execute(
        f"SELECT doc_a, doc_b FROM {parquet(os.path.join(out, 'dedup_minhash_lsh'))}"
    ).fetchall()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    labels = {x: find(x) for x in list(parent)}
    con.execute("CREATE OR REPLACE TEMP TABLE uf (node BIGINT, comp BIGINT)")
    if labels:
        con.executemany("INSERT INTO uf VALUES (?, ?)", list(labels.items()))
    want = (
        "SELECT d.doc_id, coalesce(uf.comp, d.doc_id) AS cluster_id,"
        " coalesce(uf.comp, d.doc_id) = d.doc_id AS is_canonical"
        " FROM documents d LEFT JOIN uf ON d.doc_id = uf.node"
    )
    got = f"SELECT doc_id, cluster_id, is_canonical FROM {parquet(os.path.join(out, 'dedup_clusters'))}"
    return diff(con, got, want)


def check_rollup(con, history: str, src: str, out: str) -> str | None:
    """The final rollup lake equals ``minute_rollup_batch`` over the
    history plus every event the generator and the backlogs wrote."""
    con.execute(
        "CREATE OR REPLACE VIEW events AS SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,"
        " user_id, event_type, value, props FROM ("
        f"SELECT * EXCLUDE (due_s) FROM {parquet(src)} UNION ALL SELECT * FROM {parquet(history)})"
    )
    oracle = __spark_entry__.oracle_sql()["minute_rollup_batch"]
    pround = "floor(CAST({} AS DOUBLE) * 10000.0 + 0.5) / 10000.0"
    got = (
        "SELECT zone, minute, CAST(total_value AS DOUBLE) AS total_value, n_events,"
        f" {pround.format('peak_value')} AS peak_value, {pround.format('avg_value')} AS avg_value"
        f" FROM {parquet(os.path.join(out, 'rollup'))}"
    )
    return diff(con, got, oracle)


def injected_recall(con, out: str, docs: str, injected: list[tuple[int, int]]) -> float:
    """Share of injected near-duplicate pairs whose word-set Jaccard is
    still >= 0.8 that ``dedup_minhash_lsh`` reported."""
    texts = dict(con.execute(f"SELECT doc_id, text FROM {parquet(docs)}").fetchall())
    found = set(
        con.execute(f"SELECT doc_a, doc_b FROM {parquet(os.path.join(out, 'dedup_minhash_lsh'))}").fetchall()
    )
    eligible = hit = 0
    for a, b in injected:
        wa, wb = set(texts[a].lower().split()), set(texts[b].lower().split())
        if len(wa & wb) / len(wa | wb) >= 0.8:
            eligible += 1
            hit += (min(a, b), max(a, b)) in found
    return hit / eligible if eligible else 0.0
