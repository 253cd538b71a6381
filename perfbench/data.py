"""Seeded inputs for the benchmark workloads, plus the answers they must give.

Every table is a pure function of ``--seed``: the tabular tables come from a
``numpy`` generator keyed on the seed, and the image rows come from the
engine's public ``datagen.generate_row`` starting at a seed-derived row
offset. Expected outputs are computed here, outside Spark, with DuckDB and
numpy over the same parquet files the engine reads.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Table sizes. Each timed call takes ~0.5-4 s on a 4-core host, mostly fixed
# per-job cost, so that set-up plus a 10 s measurement fit in ~50 s a run.
LINEITEM_ROWS = 40_000
ORDERS = LINEITEM_ROWS // 4
CUSTOMERS = 2_000
EVENTS = 20_000
DOCUMENTS = 1_000
PLANTED_NEAR_DUPS = 30
IMAGES = 5_000
PREV_IMAGES = 1_000
INGEST_IMAGES = 2_000
INGEST_APPEND = 500

_VOCAB = np.array([f"t{i:04d}" for i in range(4_000)])


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.Philox(key=[int(seed), stream]))


def image_offset(seed: int) -> int:
    """First row index of this seed's images (distinct windows per seed)."""
    return (int(seed) % 100_000) * 10 * IMAGES


def write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path, row_group_size=32_768)
    return path


# ----------------------------------------------------------------- tables ---
def lineitem(seed: int, n: int = LINEITEM_ROWS, stream: int = 1,
             returnflag_p: tuple = (1 / 3, 1 / 3, 1 / 3)) -> pa.Table:
    """TPC-H-shaped lineitem: 11 columns, ``n`` rows, with planted duplicate
    (l_orderkey, l_linenumber) keys and orphan order keys."""
    g = _rng(seed, stream)
    lines = g.integers(1, 8, size=ORDERS)
    orderkey = np.repeat(np.arange(1, ORDERS + 1, dtype=np.int64), lines)[:n]
    if len(orderkey) < n:
        orderkey = np.concatenate(
            [orderkey, g.integers(1, ORDERS + 1, size=n - len(orderkey))]
        )
    starts = np.r_[0, np.flatnonzero(np.diff(orderkey)) + 1]
    linenumber = (np.arange(n) - np.repeat(starts, np.diff(np.r_[starts, n])) + 1)
    # planted faults: copies of another row's key, and keys with no order
    dup = g.choice(n, size=n // 1000, replace=False)
    src = g.choice(n, size=len(dup), replace=True)
    orderkey[dup], linenumber[dup] = orderkey[src], linenumber[src]
    orphan = g.choice(n, size=n // 500, replace=False)
    orderkey[orphan] = ORDERS + 1 + g.integers(0, ORDERS, size=len(orphan))
    quantity = g.integers(1, 51, size=n).astype(np.float64)
    price = np.round(quantity * g.uniform(900.0, 2_000.0, size=n), 2)
    ship = np.datetime64("1992-01-01") + g.integers(0, 2_500, size=n).astype(
        "timedelta64[D]"
    )
    return pa.table(
        {
            "l_orderkey": pa.array(orderkey, pa.int64()),
            "l_partkey": pa.array(g.integers(1, 20_001, size=n), pa.int64()),
            "l_suppkey": pa.array(g.integers(1, 1_001, size=n), pa.int64()),
            "l_linenumber": pa.array(linenumber.astype(np.int32), pa.int32()),
            "l_quantity": quantity,
            "l_extendedprice": price,
            "l_discount": np.round(g.integers(0, 11, size=n) / 100.0, 2),
            "l_tax": np.round(g.integers(0, 9, size=n) / 100.0, 2),
            "l_returnflag": g.choice(np.array(["A", "N", "R"]), size=n, p=returnflag_p),
            "l_linestatus": g.choice(np.array(["F", "O"]), size=n),
            "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
        }
    )


def lineitem_prev(seed: int) -> pa.Table:
    """An earlier lineitem whose l_returnflag mix differs by an L-infinity
    distance of ~0.27 (the drift the profile must flag)."""
    return lineitem(seed, n=LINEITEM_ROWS // 5, stream=7, returnflag_p=(0.6, 0.2, 0.2))


def orders(seed: int) -> pa.Table:
    g = _rng(seed, 2)
    n = ORDERS
    date = np.datetime64("1992-01-01") + g.integers(0, 2_400, size=n).astype(
        "timedelta64[D]"
    )
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(1, n + 1), pa.int64()),
            "o_custkey": pa.array(g.integers(1, CUSTOMERS + 1, size=n), pa.int64()),
            "o_orderstatus": g.choice(np.array(["F", "O", "P"]), size=n),
            "o_totalprice": np.round(g.uniform(900.0, 500_000.0, size=n), 2),
            "o_orderdate": pa.array(date.astype("datetime64[us]"), pa.timestamp("us")),
            "o_orderpriority": g.choice(
                np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]),
                size=n,
            ),
        }
    )


def orders_perturbed(seed: int, base: pa.Table) -> pa.Table:
    """The skew test side: ``base`` with seeded value edits, dropped ids and
    new ids."""
    g = _rng(seed, 3)
    df = base.to_pandas()
    n = len(df)
    price = g.choice(n, size=n // 50, replace=False)
    df.loc[price, "o_totalprice"] = df.loc[price, "o_totalprice"] + 1.0
    status = g.choice(n, size=n // 80, replace=False)
    df.loc[status, "o_orderstatus"] = "X"
    keep = np.ones(n, dtype=bool)
    keep[g.choice(n, size=n // 100, replace=False)] = False
    df = df[keep]
    extra = df.sample(n=n // 200, random_state=int(seed) % (2**31)).copy()
    extra["o_orderkey"] = np.arange(n + 1, n + 1 + len(extra))
    out = pd.concat([df, extra], ignore_index=True)
    return pa.Table.from_pandas(out, schema=base.schema, preserve_index=False)


def customer(seed: int) -> pa.Table:
    g = _rng(seed, 4)
    n = CUSTOMERS
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(1, n + 1), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(1, n + 1)],
            "c_nationkey": pa.array(g.integers(0, 25, size=n), pa.int32()),
            "c_acctbal": np.round(g.uniform(-999.0, 9_999.0, size=n), 2),
            "c_mktsegment": g.choice(
                np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]),
                size=n,
            ),
        }
    )


def events(seed: int) -> pa.Table:
    """Event stream whose ``user_id`` is a foreign key into customer, with
    planted orphan users."""
    g = _rng(seed, 5)
    n = EVENTS
    user = g.integers(1, CUSTOMERS + 1, size=n)
    orphan = g.choice(n, size=n // 400, replace=False)
    user[orphan] = CUSTOMERS + 1 + g.integers(0, 1_000, size=len(orphan))
    ts = np.datetime64("2024-01-01T00:00:00") + g.integers(
        0, 86_400 * 30, size=n
    ).astype("timedelta64[s]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(user, pa.int64()),
            "event_type": g.choice(np.array(["view", "click", "cart", "buy"]), size=n),
            "value": np.round(g.exponential(20.0, size=n), 3),
        }
    )


def documents(seed: int) -> tuple[pa.Table, set[tuple[int, int]]]:
    """Random-vocabulary documents plus ``PLANTED_NEAR_DUPS`` near-copies
    (one word replaced in a ~100-word text, 3-shingle Jaccard ≈ 0.94).
    Returns the table and the planted (id_a < id_b) pairs."""
    g = _rng(seed, 6)
    n_base = DOCUMENTS - PLANTED_NEAR_DUPS
    texts = []
    for _ in range(n_base):
        texts.append(" ".join(_VOCAB[g.integers(0, len(_VOCAB), size=g.integers(80, 140))]))
    planted = set()
    for src in g.choice(n_base, size=PLANTED_NEAR_DUPS, replace=False):
        words = texts[src].split()
        words[int(g.integers(0, len(words)))] = "edited"
        planted.add((int(src), len(texts)))
        texts.append(" ".join(words))
    order = g.permutation(len(texts))  # interleave copies with originals
    ids = np.empty(len(texts), dtype=np.int64)
    ids[order] = np.arange(len(texts))
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(len(texts)), pa.int64()),
            "text": [texts[i] for i in order],
        }
    )
    pairs = {tuple(sorted((int(ids[a]), int(ids[b])))) for a, b in planted}
    return table, pairs


def images(offset: int, n: int, variant: str = "clean") -> pa.Table:
    """``n`` image rows generated by the engine's public row generator."""
    from data_validation_spark import datagen

    rows = [datagen.generate_row(i, variant, 64) for i in range(offset, offset + n)]
    cols = list(zip(*rows))
    return pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, datagen.IMAGES_SCHEMA)],
        schema=datagen.IMAGES_SCHEMA,
    )


# ------------------------------------------------------------- answers ---
def simhash_pairs(texts: list[str], ids: list[int], radius: int) -> set[tuple[int, int]]:
    """Brute-force SimHash pairs: 64-bit SipHash token hashes
    (``pd.util.hash_array``), per-bit majority vote, all pairs within
    ``radius`` bits. Empty texts (fingerprint 0) are excluded."""
    fps = []
    for t in texts:
        words = np.asarray(t.split(), dtype=object)
        if len(words) == 0:
            fps.append(0)
            continue
        bits = np.unpackbits(pd.util.hash_array(words).view(np.uint8).reshape(-1, 8), axis=1)
        votes = (2 * bits.astype(np.int64) - 1).sum(axis=0) > 0
        # any fixed bit order works: Hamming distance ignores permutations
        fp = sum(1 << b for b in range(64) if votes[b])
        fps.append(fp)
    fp = np.array(fps, dtype=np.uint64)
    idv = np.asarray(ids)
    out = set()
    for i in range(len(fp)):
        if fp[i] == 0:
            continue
        x = fp[i + 1:] ^ fp[i]
        dist = np.unpackbits(x.view(np.uint8).reshape(-1, 8), axis=1).sum(axis=1)
        for j in np.flatnonzero((dist <= radius) & (fp[i + 1:] != 0)):
            a, b = int(idv[i]), int(idv[i + 1 + j])
            out.add((min(a, b), max(a, b)))
    return out


class Oracle:
    """DuckDB over the benchmark's parquet files."""

    def __init__(self, paths: dict[str, str]):
        self.con = duckdb.connect()
        for name, path in paths.items():
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )

    def scalar(self, sql: str):
        return self.con.execute(sql).fetchone()[0]

    def column_summary(self, table: str, cols: list[str]) -> dict:
        out = {}
        for c in cols:
            lo, hi, mean, med = self.con.execute(
                f"SELECT min({c}), max({c}), avg({c}), quantile_cont({c}, 0.5) FROM {table}"
            ).fetchone()
            out[c] = (float(lo), float(hi), float(mean), float(med))
        return out

    def duplicate_keys(self, table: str, keys: list[str]) -> int:
        k = ", ".join(keys)
        return int(self.scalar(
            f"SELECT count(*) FROM (SELECT {k} FROM {table} GROUP BY {k} HAVING count(*) > 1)"
        ))

    def orphans(self, child: str, ckey: str, parent: str, pkey: str) -> int:
        return int(self.scalar(
            f"SELECT count(*) FROM {child} c WHERE NOT EXISTS "
            f"(SELECT 1 FROM {parent} p WHERE p.{pkey} = c.{ckey})"
        ))

    def skew(self, base: str, test: str, key: str, features: list[str]) -> dict:
        out = {
            "matching_pairs": int(self.scalar(
                f"SELECT count(*) FROM {base} b JOIN {test} t ON b.{key} = t.{key}"
            ))
        }
        for f in features:
            out[f] = int(self.scalar(
                f"SELECT count(*) FROM {base} b JOIN {test} t ON b.{key} = t.{key} "
                f"WHERE b.{f} IS DISTINCT FROM t.{f}"
            ))
        return out

    def close(self) -> None:
        self.con.close()


def write_tables(seed: int, out_dir: str) -> dict[str, str]:
    """Write the tabular inputs of ``seed`` as parquet; returns name → path."""
    os.makedirs(out_dir, exist_ok=True)
    o = orders(seed)
    return {
        "lineitem": write(lineitem(seed), os.path.join(out_dir, "lineitem.parquet")),
        "orders": write(o, os.path.join(out_dir, "orders.parquet")),
        "orders_test": write(
            orders_perturbed(seed, o), os.path.join(out_dir, "orders_test.parquet")
        ),
        "customer": write(customer(seed), os.path.join(out_dir, "customer.parquet")),
        "events": write(events(seed), os.path.join(out_dir, "events.parquet")),
    }
