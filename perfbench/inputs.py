"""Seeded benchmark inputs, written as parquet and cached by (seed, size).

Every table is a pure function of ``(workload, seed, size)``: a numpy
``Generator`` seeded from them draws every value, so the same seed gives
byte-identical parquet files. The generators live here, not in the
program under test, so a change to the program cannot change its own
inputs. Each input set is a directory holding one ``<table>.parquet``
per table plus ``manifest.json`` (row counts, file hashes, and the
expected answers the workload checks against).

Corruption is injected on purpose and recorded in the manifest:

* validate_tables   - dropped rows, value drift, masked (null) columns,
  duplicate keys, a schema change and a shifted distribution; plus
  dropped and mutated files in a skewed code table (one mega-repo holds
  20 % of the files) for the partitioned tasks;
* curate_corpus     - short docs, shared boilerplate lines,
  boilerplate-only docs, PII, exact duplicates, PII twins (equal once
  redacted) and tail-perturbed near-duplicates.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "validate_tables": {"bench": {"orders": 12_000, "files": 8_000}, "tiny": {"orders": 400, "files": 2_000}},
    "curate_corpus": {"bench": {"docs": 4_000}, "tiny": {"docs": 800}},
}

# input sets kept per workload in one checkout; older ones are pruned
KEEP_SETS = 3


def _rng(workload: str, seed: int) -> np.random.Generator:
    salt = int.from_bytes(hashlib.sha256(workload.encode()).digest()[:4], "little")
    return np.random.default_rng([seed, salt])


def _words(rng: np.random.Generator, pool: np.ndarray, n_rows: int, lo: int, hi: int) -> list[str]:
    lens = rng.integers(lo, hi + 1, n_rows)
    idx = rng.integers(0, len(pool), int(lens.sum()))
    out, pos = [], 0
    for n in lens:
        out.append(" ".join(pool[idx[pos:pos + n]]))
        pos += n
    return out


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _write(out_dir: str, tables: dict[str, pa.Table]) -> dict[str, dict]:
    meta = {}
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        meta[name] = {"rows": table.num_rows, "sha256": _sha256(path)}
    return meta


# ------------------------------------------------------------ validate_tables
def _tables(seed: int, n_orders: int) -> tuple[dict[str, pa.Table], dict]:
    rng = _rng("validate_tables", seed)
    vocab = np.array([f"t{i}" for i in range(2_000)])
    n_cust = max(n_orders // 10, 10)

    customer = pa.table({
        "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })

    okeys = np.arange(1, n_orders + 1, dtype=np.int64) * 4
    base_day = dt.date(2024, 1, 1).toordinal() - dt.date(1970, 1, 1).toordinal()
    orders = pa.table({
        "o_orderkey": okeys,
        "o_custkey": rng.integers(1, n_cust + 1, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(900, 500_000, n_orders), 2),
        "o_orderdate": pa.array(base_day + rng.integers(0, 365, n_orders), pa.int32()).cast(pa.date32()),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders),
        "o_comment": _words(rng, vocab, n_orders, 3, 9),
    })

    per_order = rng.integers(1, 8, n_orders)
    n_li = int(per_order.sum())
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    lineitem = pa.table({
        "l_orderkey": np.repeat(okeys, per_order),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_partkey": rng.integers(1, 20_000, n_li).astype(np.int64),
        "l_suppkey": rng.integers(1, 1_000, n_li).astype(np.int64),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100_000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": pa.array(base_day + rng.integers(0, 400, n_li), pa.int32()).cast(pa.date32()),
        "l_comment": _words(rng, vocab, n_li, 2, 7),
    })

    n_ev = n_orders
    ts0 = int(dt.datetime(2024, 6, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    ev_ts = ts0 + rng.integers(0, 30 * 86_400, n_ev) * 1_000_000
    events = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "user_id": rng.integers(1, n_cust + 1, n_ev).astype(np.int64),
        "event_type": rng.choice(["view", "click", "cart", "buy"], n_ev, p=[0.6, 0.25, 0.1, 0.05]),
        "event_ts": pa.array(ev_ts, pa.timestamp("us")),
        "value": np.round(rng.lognormal(3.0, 0.6, n_ev), 4),
    })

    # --- corrupted targets ---------------------------------------------
    frac = 0.005
    li_pick = rng.random(n_li)
    keep = li_pick >= frac  # drop 0.5 %
    drift = (li_pick >= frac) & (li_pick < 2 * frac)  # +1 % price on 0.5 %
    mask = (li_pick >= 2 * frac) & (li_pick < 3 * frac)  # null comment on 0.5 %
    price = lineitem.column("l_extendedprice").to_numpy()
    comment = lineitem.column("l_comment").to_pylist()
    li_tgt = lineitem.set_column(
        lineitem.schema.get_field_index("l_extendedprice"), "l_extendedprice",
        pa.array(np.where(drift, np.round(price * 1.01, 2), price)),
    ).set_column(
        lineitem.schema.get_field_index("l_comment"), "l_comment",
        pa.array([None if m else c for m, c in zip(mask, comment)], pa.string()),
    ).filter(pa.array(keep))

    dup_idx = rng.choice(n_orders, max(int(n_orders * frac), 1), replace=False)
    orders_tgt = pa.concat_tables([orders, orders.take(pa.array(np.sort(dup_idx)))])

    name_mask = rng.random(n_cust) < 0.01
    name_mask[0] = True
    cust_tgt = customer.set_column(
        1, "c_name",
        pa.array([None if m else v for m, v in zip(name_mask, customer.column("c_name").to_pylist())], pa.string()),
    ).append_column("c_extra", pa.array(np.zeros(n_cust, dtype=np.int32)))

    vals = events.column("value").to_numpy()
    events_tgt = events.set_column(4, "value", pa.array(np.round(vals * 3.0 + 40.0, 4)))

    tables = {
        "lineitem": lineitem, "lineitem_replica": lineitem, "lineitem_tgt": li_tgt,
        "orders": orders, "orders_replica": orders, "orders_tgt": orders_tgt,
        "customer": customer, "customer_tgt": cust_tgt,
        "events": events, "events_replica": events, "events_tgt": events_tgt,
    }
    injected = {
        "lineitem_dropped": int((~keep).sum()),
        "lineitem_drifted": int(drift.sum()),
        "lineitem_nulled": int(mask.sum()),
        "orders_duplicated": int(len(dup_idx)),
        "customer_nulled": int(name_mask.sum()),
    }
    return tables, injected


# ------------------------------------------- validate_tables: code table
CODE_LANGS = np.array(["py", "java", "scala", "go", "rs", "cpp", "js", "sql"])
CODE_VOCAB = np.array([
    "def", "return", "class", "import", "for", "while", "if", "else",
    "val", "var", "fn", "func", "let", "const", "match", "case",
    "spark", "table", "select", "join", "group", "filter", "map",
    "reduce", "hash", "key", "value", "row", "col", "schema", "int", "str",
])


def _code(seed: int, n_files: int) -> tuple[dict[str, pa.Table], dict]:
    """Skewed code table: repo_0 (the mega-repo) holds 20 % of the files,
    the rest spread over 100 repos; the target drops and mutates 1 in
    ~400 files each."""
    rng = _rng("validate_tables.code", seed)
    ids = np.arange(n_files)
    repo_id = np.where(ids < int(n_files * 0.2), 0, rng.integers(1, 101, n_files))
    lang = CODE_LANGS[rng.integers(0, len(CODE_LANGS), n_files)]
    dirs = rng.integers(0, 1000, n_files)
    repo = [f"repo_{r}" for r in repo_id]
    path = [f"src/{d}/file_{i}.{lg}" for d, i, lg in zip(dirs, ids, lang)]
    content = _words(rng, CODE_VOCAB, n_files, 8, 40)
    commit = [hashlib.md5(f"commit{i}:{seed}".encode()).hexdigest() for i in ids]
    src = pa.table({"repo": repo, "path": path, "commit": commit, "lang": lang, "content": content})

    pick = rng.random(n_files)
    drop = pick < 0.0025
    mutate = (pick >= 0.0025) & (pick < 0.005)
    tgt_content = [c + " /*corrupted*/" if m else c for c, m in zip(content, mutate)]
    tgt = src.set_column(4, "content", pa.array(tgt_content)).filter(pa.array(~drop))
    return {"code_src": src, "code_tgt": tgt}, {
        "dropped": int(drop.sum()), "mutated": int(mutate.sum()),
    }


def _expected_group_verdicts(out_dir: str) -> dict:
    """Per-(repo, lang) verdicts recomputed with DuckDB, independent of
    the program: a group fails when any file is missing on one side or
    its content differs (both tasks run count, row-hash and PK
    uniqueness at tolerance 0, and the generator makes no duplicate
    keys)."""
    import duckdb

    src = os.path.join(out_dir, "code_src.parquet")
    tgt = os.path.join(out_dir, "code_tgt.parquet")
    con = duckdb.connect()
    try:
        total = con.execute(
            f"SELECT count(*) FROM (SELECT repo, lang FROM '{src}' "
            f"UNION SELECT repo, lang FROM '{tgt}')"
        ).fetchone()[0]
        failing = con.execute(
            f"""
            SELECT DISTINCT coalesce(s.repo, t.repo) AS repo,
                            coalesce(s.lang, t.lang) AS lang
            FROM '{src}' s FULL OUTER JOIN '{tgt}' t
              ON s.repo = t.repo AND s.path = t.path
            WHERE s.path IS NULL OR t.path IS NULL
               OR s.content IS DISTINCT FROM t.content
               OR s.lang IS DISTINCT FROM t.lang
            ORDER BY 1, 2
            """
        ).fetchall()
    finally:
        con.close()
    return {"total_groups": int(total), "failing_groups": [list(r) for r in failing]}


# -------------------------------------------------------------- curate_corpus
BOILERPLATE = [
    f"# Copyright (c) {2000 + i} Example Corp. All rights reserved. Module {i}."
    for i in range(24)
] + [
    f"Licensed under the Apache License, Version 2.0; see LICENSE-{i} for terms."
    for i in range(16)
]


def _corpus(seed: int, n_docs: int) -> tuple[dict[str, pa.Table], dict]:
    rng = _rng("curate_corpus", seed)
    vocab = np.array([f"w{i}" for i in range(20_000)])
    n_lines = rng.integers(2, 6, n_docs)
    body = _words(rng, vocab, int(n_lines.sum()), 10, 30)
    docs: list[list[str]] = []
    pos = 0
    for n in n_lines:
        docs.append(body[pos:pos + n])
        pos += n

    # disjoint roles drawn from one permutation so no doc carries two
    role = rng.permutation(n_docs)
    k = max(n_docs // 64, 2)
    near_base = role[:k]
    exact_base = role[k:2 * k]
    twin_base = role[2 * k:3 * k]
    pii_only = role[3 * k:4 * k]
    with_header = role[4 * k:4 * k + n_docs // 6]

    # round-robin, so every boilerplate line is shared by >= 3 docs
    if len(with_header) < 3 * len(BOILERPLATE):
        raise ValueError(f"curate_corpus needs at least {18 * len(BOILERPLATE)} docs")
    for j, i in enumerate(with_header):
        docs[i] = [BOILERPLATE[j % len(BOILERPLATE)]] + docs[i]
    for j, i in enumerate(np.concatenate([twin_base, pii_only])):
        docs[i][-1] = f"{docs[i][-1]} contact user{j}@example.com via 10.{j % 250}.{j // 250 % 250}.7"

    # doc_id == position in ``texts``; injected docs get ids >= n_docs
    texts = ["\n".join(d) for d in docs]

    def add(text: str) -> int:
        texts.append(text)
        return len(texts) - 1

    near = [[int(i), add(texts[i] + " zzz")] for i in near_base]
    exact = [
        [int(i), add(texts[i] if j % 2 == 0 else texts[i].upper().replace(" ", "  "))]
        for j, i in enumerate(exact_base)
    ]
    twins = [
        [int(i), add(texts[i].replace(f"user{j}@example.com", f"other{j}@example.org"))]
        for j, i in enumerate(twin_base)
    ]
    # boilerplate-only docs: empty once stripped, and pairwise near-dups
    n_boiler_only = max(n_docs // 200, 3)
    free = [
        add("\n".join(BOILERPLATE[(j + o) % len(BOILERPLATE)] for o in (0, 7, 19)))
        for j in range(n_boiler_only)
    ]
    n_short = max(n_docs // 100, 3)
    for j in range(n_short):
        add(f"short {j}")

    order = rng.permutation(len(texts))
    documents = pa.table({
        "doc_id": pa.array(order.astype(np.int64)),
        "text": pa.array([texts[i] for i in order], pa.string()),
    })
    total = len(texts)
    after_filter = total - n_short
    after_strip = after_filter - n_boiler_only
    expected = {
        "stage_rows": {
            "filter": after_filter,
            "strip_boilerplate": after_strip,
            "redact_pii": after_strip,
            "exact_dedup": after_strip - len(exact) - len(twins),
        },
        "near_pairs": near,
        "exact_pairs": exact,
        "twin_pairs": twins,
        "free_ids": free,
    }
    return {"documents": documents}, expected


# ------------------------------------------------------------------- caching
def _generate(workload: str, seed: int, size: str, out_dir: str) -> dict:
    params = SIZES[workload][size]
    if workload == "validate_tables":
        tables, injected = _tables(seed, params["orders"])
        code, code_injected = _code(seed, params["files"])
        meta = _write(out_dir, {**tables, **code})
        expected = _expected_group_verdicts(out_dir)
        expected["injected"] = {**injected, "code_dropped": code_injected["dropped"],
                                "code_mutated": code_injected["mutated"]}
        return {"tables": meta, "expected": expected}
    if workload == "curate_corpus":
        tables, expected = _corpus(seed, params["docs"])
        return {"tables": _write(out_dir, tables), "expected": expected}
    raise ValueError(f"unknown workload {workload!r}")


def _valid(path: str, params: dict) -> bool:
    mpath = os.path.join(path, "manifest.json")
    if not os.path.exists(mpath):
        return False
    with open(mpath) as f:
        manifest = json.load(f)
    return manifest.get("params") == params and all(
        os.path.exists(os.path.join(path, f"{n}.parquet"))
        and _sha256(os.path.join(path, f"{n}.parquet")) == m["sha256"]
        for n, m in manifest["tables"].items()
    )


def prepare(root: str, workload: str, seed: int, size: str) -> tuple[str, dict]:
    """Return ``(input_dir, manifest)`` for one input set, generating it
    on first use and reusing it (after a hash check) afterwards."""
    base = os.path.join(root, "inputs")
    path = os.path.join(base, f"{workload}-{size}-seed{seed}")
    params = SIZES[workload][size]
    if not _valid(path, params):
        shutil.rmtree(path, ignore_errors=True)
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        manifest = {"workload": workload, "seed": seed, "size": size, "params": params}
        manifest.update(_generate(workload, seed, size, tmp))
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, path)
        _prune(base, workload, keep=path)
    os.utime(path)
    with open(os.path.join(path, "manifest.json")) as f:
        return path, json.load(f)


def update_manifest(path: str, key: str, value) -> None:
    """Pin a value (e.g. an output digest first seen on this seed) in the
    input set's manifest, so later runs on the seed must reproduce it."""
    mpath = os.path.join(path, "manifest.json")
    with open(mpath) as f:
        manifest = json.load(f)
    manifest[key] = value
    tmp = f"{mpath}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, mpath)


def _prune(base: str, workload: str, keep: str) -> None:
    sets = [
        os.path.join(base, d) for d in os.listdir(base)
        if d.startswith(f"{workload}-") and ".tmp" not in d
    ]
    sets.sort(key=lambda p: os.path.getmtime(p) if os.path.exists(p) else 0.0)
    for old in [p for p in sets if p != keep][: max(len(sets) - KEEP_SETS, 0)]:
        shutil.rmtree(old, ignore_errors=True)


if __name__ == "__main__":
    import sys

    wl, sd, sz, root = sys.argv[1], int(sys.argv[2]), sys.argv[3], sys.argv[4]
    t0 = time.perf_counter()
    p, m = prepare(root, wl, sd, sz)
    print(p, json.dumps({n: t["rows"] for n, t in m["tables"].items()}), f"{time.perf_counter() - t0:.2f}s")
