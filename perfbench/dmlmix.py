"""Inputs and expected outputs for the `dml_mix` workload.

Every pass starts from a fresh table seeded with the base `orders` and
plays one round, in order:

    append     commit of fresh keys
    read       live rows aggregated per order status
    delete_mor position-delete DELETE of a generated predicate
    read       again, now through the position-delete sidecar
    merge      copy-on-write upsert (existing and fresh keys)
    read
    upsert_eq  equality-delete upsert (existing and fresh keys)
    read       again, now through the equality sidecar
    feed       changeFeed from the seeded version to the upsert
    maintain   folds the equality deletes (its first step), then compacts

The seed drives batch contents, which keys are replaced and the delete
predicates; the engine receives only the generated parquet files and SQL
predicate text. A batch row takes its key from the pass's plan and its
other columns from a row of the seed table drawn at random, so batches
follow the seed table's value distributions.

The model is plain pandas over the same generated rows: the expected
aggregate after each read and the expected change-feed multiset are
computed while the inputs are generated.
"""
import collections
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ORDERS_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string())])
APPEND, DELETE_SPAN, MERGE, UPSERT = 3000, 9000, 2000, 2000


def _aggregate(state):
    """The engine-side read aggregate, computed on the model."""
    s = state.reset_index()
    cents = np.floor(s["o_totalprice"].to_numpy() * 100 + 0.5).astype(np.int64)
    secs = s["o_orderdate"].to_numpy().astype("datetime64[s]").astype(np.int64)
    df = pd.DataFrame({"st": s["o_orderstatus"], "key": s["o_orderkey"],
                       "cust": s["o_custkey"], "cents": cents, "secs": secs})
    g = df.groupby("st")
    return sorted((st, int(n), int(k), int(c), int(ce), int(se)) for st, n, k, c, ce, se in zip(
        g.size().index, g.size(), g["key"].sum(), g["cust"].sum(),
        g["cents"].sum(), g["secs"].sum()))


def _rows(state):
    s = state.reset_index()
    us = s["o_orderdate"].to_numpy().astype("datetime64[us]").astype(np.int64)
    return collections.Counter(zip(
        s["o_orderkey"].tolist(), s["o_custkey"].tolist(), s["o_orderstatus"].tolist(),
        s["o_totalprice"].tolist(), us.tolist(), s["o_orderpriority"].tolist()))


def _feed(before, after):
    """The change feed from `before` to `after`: rows only in `after` as
    inserts, rows only in `before` as deletes. Keys are unique in every
    state, so only keys added, removed or changed need comparing."""
    common = after.index.intersection(before.index)
    cols = list(before.columns)
    changed = common[(after.loc[common, cols] != before.loc[common, cols]).any(axis=1)]
    out = collections.Counter()
    for row, n in _rows(after.loc[after.index.difference(before.index).union(changed)]).items():
        out[row + ("insert",)] += n
    for row, n in _rows(before.loc[before.index.difference(after.index).union(changed)]).items():
        out[row + ("delete",)] += n
    return out


def _batch(rng, keys, base, path):
    """Rows for `keys` with the other columns of random seed-table rows."""
    rows = base.iloc[rng.integers(0, len(base), len(keys))]
    batch = rows.set_axis(pd.Index(np.asarray(keys, dtype=np.int64), name="o_orderkey"))
    pq.write_table(pa.Table.from_pandas(batch.reset_index(), schema=ORDERS_SCHEMA,
                                       preserve_index=False), path)
    return batch


def _upsert(state, batch):
    return pd.concat([state[~state.index.isin(batch.index)], batch])


def generate(out_dir, seed_orders, seed, passes, expect=True):
    """Write the inputs of `passes` passes, one round each, under `out_dir`.

    Returns (plan, expected): per pass the round's input paths and
    predicate for the JVM, and per pass the expected aggregates and change
    feed (None when `expect` is false)."""
    os.makedirs(out_dir, exist_ok=True)
    base = pq.read_table(seed_orders).to_pandas().set_index("o_orderkey")
    rng = np.random.default_rng(np.append(seed, 0xD31))
    plan, expected = [], []
    for p in range(passes):
        state = base
        fresh = 1_000_000_000 + p * 10_000_000
        tag = f"{out_dir}/p{p + 1}"
        app = _batch(rng, np.arange(fresh, fresh + APPEND), base, f"{tag}-append.parquet")
        fresh += APPEND
        state = pd.concat([state, app])
        after_append = _aggregate(state) if expect else None

        # the delete range lies inside the seeded key range and the status
        # is one of the two common ones, so every round deletes about the
        # same number of rows
        lo = int(rng.integers(0, len(base) - DELETE_SPAN))
        k, st = int(rng.integers(0, 4)), str(rng.choice(["F", "O"]))
        pred = (f"o_orderkey >= {lo} AND o_orderkey < {lo + DELETE_SPAN} AND "
                f"pmod(o_orderkey, 4) = {k} AND o_orderstatus = '{st}'")
        ix = state.index.to_numpy()
        hit = (ix >= lo) & (ix < lo + DELETE_SPAN) & (ix % 4 == k) & \
              (state["o_orderstatus"].to_numpy() == st)
        state = state[~hit]
        after_delete = _aggregate(state) if expect else None

        def mixed(n):
            nonlocal fresh
            old = rng.choice(state.index.to_numpy(), n - n // 4, replace=False)
            new = np.arange(fresh, fresh + n // 4)
            fresh += n // 4
            return np.sort(np.concatenate([old, new]))

        mrg = _batch(rng, mixed(MERGE), base, f"{tag}-merge.parquet")
        state = _upsert(state, mrg)
        after_merge = _aggregate(state) if expect else None
        ups = _batch(rng, mixed(UPSERT), base, f"{tag}-upsert.parquet")
        state = _upsert(state, ups)
        plan.append({"append": f"{tag}-append.parquet", "delete": pred,
                     "merge": f"{tag}-merge.parquet", "upsert": f"{tag}-upsert.parquet"})
        expected.append({"after_append": after_append, "after_delete": after_delete,
                         "after_merge": after_merge, "after_upsert": _aggregate(state),
                         "feed": _feed(base, state)} if expect else None)
    return plan, expected


def read_tsv(path):
    with open(path) as f:
        return [line.rstrip("\n").split("\t") for line in f if line.strip()]


def check_agg(path, want):
    got = sorted((r[0], *map(int, r[1:])) for r in read_tsv(path))
    return True if got == want else f"aggregate mismatch in {os.path.basename(path)}"


def check_feed(path, want):
    got = collections.Counter(
        (int(r[0]), int(r[1]), r[2], float(r[3]), int(r[4]), r[5], r[6])
        for r in read_tsv(path))
    if got == want:
        return True
    return (f"change feed mismatch in {os.path.basename(path)}: "
            f"{sum((got - want).values())} unexpected, {sum((want - got).values())} missing")
