"""Seeded input generator: the only source of every benchmark input.

Every input is derived from the repository's testdata at sf 0.001
(``data/sf0.001``, a copy of the tables TESTDATA.md describes, so a
run reads nothing outside its checkout) by seeded row sampling,
tenant and CDC stamping, and the key-shift / word-permute /
fresh-vector replication of ``tools/scale_testdata.py``, whose helpers
are called here. Column types are the testdata's. The seed sets the
samples, the tenant split, the CDC deltas and every query order; the
same seed gives byte-identical parquet files.
"""

from __future__ import annotations

import importlib.util
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
TESTDATA = os.path.join(HERE, "data", "sf0.001")
SCALE_TOOL = os.path.join(os.path.dirname(HERE), "tools", "scale_testdata.py")

DAY_US = 86_400_000_000
#: 2024-01-01 as epoch microseconds: the CDC clock of tenant_elt
EPOCH_2024_US = 1_704_067_200_000_000

#: tenant_elt: tenants that share one source
TENANTS = ("t0", "t1", "t2", "t3")
ELT_TABLES = ("customer", "orders", "events")


def _scale_tool():
    spec = importlib.util.spec_from_file_location("scale_testdata", SCALE_TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def testdata() -> dict[str, pa.Table]:
    return {
        f[: -len(".parquet")]: pq.read_table(os.path.join(TESTDATA, f))
        for f in sorted(os.listdir(TESTDATA))
        if f.endswith(".parquet")
    }


def _sample(rng: np.random.Generator, tbl: pa.Table, k: int) -> pa.Table:
    """``k`` rows drawn without replacement, in file order."""
    return tbl.take(np.sort(rng.choice(tbl.num_rows, k, replace=False)))


def replicate(name: str, base: pa.Table, copies: int) -> pa.Table:
    """``base`` and ``copies - 1`` copies made as ``tools/scale_testdata.py``
    makes them: keys shifted per copy, document words permuted, fresh
    unit vectors, part names suffixed."""
    st = _scale_tool()
    parts = [base]
    for i in range(1, copies):
        t = st._shift_keys(base, st.KEY_SHIFTS[name], i)
        if name == "documents":
            t = st._permute_documents(t, i)
        elif name == "embeddings":
            t = st._fresh_embeddings(t, i)
        elif name == "part":
            t = st._suffix_part_names(t, i)
        parts.append(t)
    return pa.concat_tables(parts).combine_chunks()


def bank_tables(seed: int, keep: float, corpus_docs: int, copies: int) -> dict[str, pa.Table]:
    """query_bank inputs: a seeded ``keep`` share of the orders (with
    their line items) and of the events, the dimension tables whole,
    and a seeded sample of ``corpus_docs`` documents and as many
    vectors; ``documents``, ``embeddings`` and ``events`` replicated
    x``copies``."""
    rng = np.random.default_rng([seed, 1])
    t = testdata()
    orders = _sample(rng, t["orders"], round(t["orders"].num_rows * keep))
    lineitem = t["lineitem"]
    in_orders = np.isin(lineitem.column("l_orderkey").to_numpy(), orders.column("o_orderkey").to_numpy())
    t["orders"] = orders
    t["lineitem"] = lineitem.filter(pa.array(in_orders))
    events = _sample(rng, t["events"], round(t["events"].num_rows * keep))
    t["events"] = replicate("events", events, copies)
    for name in ("documents", "embeddings"):
        t[name] = replicate(name, _sample(rng, t[name], corpus_docs), copies)
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, dict[str, int]]:
    """One single-row-group parquet file per table; returns rows and
    bytes per table."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, tbl in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        sizes[name] = {"rows": tbl.num_rows, "bytes": os.path.getsize(path)}
    return sizes


# ---------------------------------------------------------------------------
# tenant_elt: one shared CDC source for all tenants
# ---------------------------------------------------------------------------


def elt_source(
    seed: int, n_tenants: int, cycles: int, delta_frac: float, restate_frac: float
) -> list[dict[str, pa.Table]]:
    """Per cycle, the rows added to each source table.

    Cycle 0 is the testdata's ``customer``, ``orders`` and ``events``.
    Cycle c adds, per table, a seeded ``delta_frac`` sample of those
    rows as key-shifted copy c (``tools/scale_testdata.py`` key units,
    so new orders point at copy c's customers). In ``orders`` a
    ``restate_frac`` share of the delta instead re-states existing keys:
    same key, tenant, customer and dates, the status and price of
    another order. Every row gets a seeded ``tenant`` and an
    ``updated_at`` strictly after every earlier cycle's.
    """
    st = _scale_tool()
    rng = np.random.default_rng([seed, 2])
    names = np.array(TENANTS[:n_tenants])
    td = testdata()
    base = {name: td[name] for name in ELT_TABLES}

    def stamp(tbl: pa.Table, tenant: pa.Array, t0_us: int, span_us: int) -> pa.Table:
        updated = t0_us + rng.integers(0, span_us, tbl.num_rows)
        tbl = tbl.append_column("tenant", tenant)
        return tbl.append_column("updated_at", pa.array(updated, pa.int64()).cast(pa.timestamp("us")))

    def tenants(n: int) -> pa.Array:
        return pa.array(names[rng.integers(0, n_tenants, n)])

    out = [{name: stamp(tbl, tenants(tbl.num_rows), EPOCH_2024_US, 30 * DAY_US) for name, tbl in base.items()}]
    # every order key so far, first version, with its tenant
    known = out[0]["orders"].drop_columns(["updated_at"])
    for c in range(1, cycles + 1):
        t0 = EPOCH_2024_US + (29 + c) * DAY_US
        delta = {}
        k_restate = 0
        for name, tbl in base.items():
            k = max(2, round(tbl.num_rows * delta_frac))
            if name == "orders":
                k_restate = round(k * restate_frac)
                k -= k_restate
            new = st._shift_keys(_sample(rng, tbl, k), st.KEY_SHIFTS[name], c)
            delta[name] = new.append_column("tenant", tenants(k))
        restated = known.take(rng.choice(known.num_rows, k_restate, replace=False))
        donors = known.take(rng.integers(0, known.num_rows, k_restate))
        for col in ("o_orderstatus", "o_totalprice"):
            restated = restated.set_column(restated.schema.get_field_index(col), col, donors.column(col))
        known = pa.concat_tables([known, delta["orders"]])
        delta["orders"] = pa.concat_tables([restated, delta["orders"]])
        out.append(
            {
                name: stamp(tbl.drop_columns(["tenant"]), tbl.column("tenant"), t0, DAY_US)
                for name, tbl in delta.items()
            }
        )
    return out


def query_order(seed: int, names: list[str]) -> list[str]:
    order = list(names)
    random.Random(seed).shuffle(order)
    return order
