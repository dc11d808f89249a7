"""Seeded inputs for the benchmark workloads.

Every input is derived from the read-only testdata and the run's seed,
and written into the run's own directory; the engine only ever reads
these copies. The same seed gives the same files.
"""
import os
import re
import shutil
from collections import defaultdict
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def testdata_root(repo):
    """The testdata location documented in TESTDATA.md, unless
    GRAFT_TESTDATA names another."""
    if os.environ.get("GRAFT_TESTDATA"):
        return Path(os.environ["GRAFT_TESTDATA"])
    doc = (Path(repo) / "TESTDATA.md").read_text()
    return Path(re.search(r"`([^`]+)/sf0\.001/?`", doc).group(1))


def stage(src, dst, tables):
    dst.mkdir(parents=True, exist_ok=True)
    for t in tables:
        shutil.copyfile(src / f"{t}.parquet", dst / f"{t}.parquet")


def gen_corpus(src, dst, n_docs, n_emb, seed):
    """documents/embeddings resampled from `src` as
    tools/gen_scaling_data.py does it, from `seed`: per-language
    vocabulary resampling with the source's length, language and source
    distributions, ~0.16% exact and ~0.5% near duplicates, and
    embeddings drawn around the source's label centroids."""
    docs = pq.read_table(src / "documents.parquet").to_pydict()
    texts = [str(t) for t in docs["text"]]
    langs = [str(x) for x in docs["lang"]]
    sources = [str(x) for x in docs["source"]]
    vocab = defaultdict(list)
    for t, lang in zip(texts, langs):
        vocab[lang].extend(t.split())
    vocab = {k: np.array(v) for k, v in vocab.items()}
    lens = np.array([len(t.split()) for t in texts])

    rng = np.random.default_rng(seed)
    out_t, out_l, out_s = [], [], []
    li = rng.integers(0, len(langs), n_docs)
    for i in range(n_docs):
        lang = langs[li[i]]
        length = int(lens[rng.integers(0, len(lens))])
        words = vocab[lang][rng.integers(0, len(vocab[lang]), length)]
        out_t.append(" ".join(words))
        out_l.append(lang)
        out_s.append(sources[rng.integers(0, len(sources))])
    for _ in range(max(1, int(n_docs * 0.0016))):
        a, b = int(rng.integers(0, n_docs)), int(rng.integers(0, n_docs))
        out_t[b], out_l[b] = out_t[a], out_l[a]
    for _ in range(max(1, int(n_docs * 0.005))):
        a, b = int(rng.integers(0, n_docs)), int(rng.integers(0, n_docs))
        w = out_t[a].split()
        if len(w) > 4:
            v = vocab[out_l[a]]
            w[int(rng.integers(0, len(w)))] = str(v[rng.integers(0, len(v))])
        out_t[b], out_l[b] = " ".join(w), out_l[a]
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(out_t),
        "lang": pa.array(out_l),
        "source": pa.array(out_s),
        "n_chars": pa.array([len(t) for t in out_t], pa.int64())}),
        dst / "documents.parquet")

    emb = pq.read_table(src / "embeddings.parquet")
    vecs = np.stack([np.array(v) for v in emb.column("embedding").to_pylist()])
    labels = np.array(emb.column("label").to_pylist())
    uniq = np.unique(labels)
    cents = {k: vecs[labels == k].mean(axis=0) for k in uniq}
    spread = {k: vecs[labels == k].std(axis=0).mean() for k in uniq}
    rng = np.random.default_rng(seed + 7)
    ls = rng.choice(uniq, n_emb)
    out = np.stack([cents[k] + rng.normal(0, spread[k], vecs.shape[1])
                    for k in ls]).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(out), pa.list_(pa.float32())),
        "label": pa.array(ls.astype(np.int32), pa.int32())}),
        dst / "embeddings.parquet")


SALES_COLS = "id, orderkey, suppkey, qty, price, disc, status, flag"


def _sales_select(where, qty="l_quantity", status="l_linestatus"):
    # (l_orderkey, l_linenumber) repeats in the testdata; keep one row
    # per key, the same one in both engines, so that `id` is a key
    return ("SELECT l_orderkey * 8 + l_linenumber AS id, l_orderkey AS orderkey, "
            f"l_suppkey AS suppkey, {qty} AS qty, l_extendedprice AS price, "
            f"l_discount AS disc, {status} AS status, l_returnflag AS flag "
            "FROM (SELECT *, row_number() OVER (PARTITION BY l_orderkey, l_linenumber "
            "ORDER BY l_partkey, l_suppkey, l_quantity, l_extendedprice, l_discount, "
            "l_tax, l_returnflag, l_linestatus, l_shipdate) AS rn FROM lineitem) "
            f"WHERE rn = 1 AND {where}")


# The moduli that size the ETL's selections. They are fixed, and the
# seed picks the residues (which keys) and the values, so every seed
# moves about as many rows and the seed does not change the work.
LOAD_MOD, UPDATE_MOD, DELETE_MOD, CHANGES_MOD = 4, 10, 20, 20


def etl_plan(seed, batches=3):
    """The HiveQL ETL pass and its DuckDB replay, from one seed.

    Returns (script, replay, checks): `script` is a list of
    (kind, HiveQL) with `{p}` for the table prefix; `replay` is the list
    of DuckDB statements that leave the same final `sales` table;
    `checks` maps a check name to (HiveQL, DuckDB) reads whose results
    must agree."""
    rng = np.random.default_rng(seed)
    load_where = f"l_orderkey % {LOAD_MOD} <> {int(rng.integers(0, LOAD_MOD))}"
    script = [
        ("ddl", "DROP TABLE IF EXISTS {p}sales"),
        ("ddl", "DROP TABLE IF EXISTS {p}changes"),
        ("ddl", "CREATE TABLE {p}sales (id BIGINT, orderkey BIGINT, suppkey BIGINT, "
                "qty DOUBLE, price DOUBLE, disc DOUBLE, status STRING) "
                "PARTITIONED BY (flag STRING) CLUSTERED BY (id) INTO 4 BUCKETS "
                "STORED AS PARQUET"),
        ("ddl", "CREATE TABLE {p}changes (id BIGINT, orderkey BIGINT, suppkey BIGINT, "
                "qty DOUBLE, price DOUBLE, disc DOUBLE, status STRING, flag STRING) "
                "STORED AS PARQUET"),
        ("dml", "INSERT OVERWRITE TABLE {p}sales PARTITION (flag) "
                + _sales_select(load_where)),
    ]
    replay = [f"CREATE TABLE sales AS {_sales_select(load_where)}"]
    for _ in range(batches):
        m1, m2, m3 = UPDATE_MOD, DELETE_MOD, CHANGES_MOD
        r1, r2, r3 = int(rng.integers(0, m1)), int(rng.integers(0, m2)), int(rng.integers(0, m3))
        disc = round(float(rng.integers(0, 10)) / 100, 2)
        qmin = int(rng.integers(35, 45))
        bump = int(rng.integers(1, 5))
        status = str(rng.choice(["O", "F", "P"]))
        update = f"disc = {disc} WHERE suppkey % {m1} = {r1}"
        delete = f"orderkey % {m2} = {r2} AND qty > {qmin}"
        changes = _sales_select(f"l_partkey % {m3} = {r3}",
                                qty=f"l_quantity + {bump}", status=f"'{status}'")
        script += [
            ("dml", f"UPDATE {{p}}sales SET {update}"),
            ("dml", f"DELETE FROM {{p}}sales WHERE {delete}"),
            ("dml", f"INSERT OVERWRITE TABLE {{p}}changes {changes}"),
            ("dml", "MERGE INTO {p}sales t USING {p}changes s ON t.id = s.id "
                    "WHEN MATCHED THEN UPDATE SET qty = s.qty, status = s.status "
                    "WHEN NOT MATCHED THEN INSERT VALUES (s.id, s.orderkey, s.suppkey, "
                    "s.qty, s.price, s.disc, s.status, s.flag)"),
        ]
        replay += [
            f"UPDATE sales SET {update}",
            f"DELETE FROM sales WHERE {delete}",
            f"CREATE OR REPLACE TABLE changes AS {changes}",
            "UPDATE sales SET qty = c.qty, status = c.status FROM changes c "
            "WHERE sales.id = c.id",
            f"INSERT INTO sales SELECT {SALES_COLS} FROM changes "
            "WHERE id NOT IN (SELECT id FROM sales)",
        ]
    rows = int(rng.integers(1000, 100000))
    script += [
        ("ddl", f"ALTER TABLE {{p}}sales UPDATE STATISTICS SET ('numRows'='{rows}')"),
        ("query", "SHOW PARTITIONS {p}sales"),
        ("query", "DESCRIBE FORMATTED {p}sales"),
        ("query", "SHOW TABLES"),
    ]
    # named check_<i> for the i-th one, as Etl.capture names its output
    checks = {
        "check_0": (
            "SELECT flag, count(*) AS n, sum(CAST(round(v * 100) AS BIGINT)) AS cents "
            "FROM {p}sales LATERAL VIEW explode(array(qty, price)) x AS v GROUP BY flag",
            "SELECT flag, count(*) AS n, sum(CAST(round(v * 100) AS BIGINT)) AS cents "
            "FROM (SELECT flag, unnest([qty, price]) AS v FROM sales) GROUP BY flag"),
        "check_1": (
            "SELECT id, suppkey, qty, status FROM {p}sales WHERE qty > 45 "
            "DISTRIBUTE BY suppkey SORT BY id",
            "SELECT id, suppkey, qty, status FROM sales WHERE qty > 45"),
    }
    script += [("query", hive) for hive, _ in checks.values()]
    return script, replay, checks


def write_etl(run_dir, seed):
    script, replay, checks = etl_plan(seed)
    lines = [f"{k}\t{s}" for k, s in script]
    lines += [f"check\t{hive}" for hive, _ in checks.values()]
    path = run_dir / "etl.tsv"
    path.write_text("\n".join(lines) + "\n")
    return path, replay, {k: duck for k, (_, duck) in checks.items()}
