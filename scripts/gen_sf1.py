#!/usr/bin/env python3
"""Generate the matched-marginals 10x ("sf1") test star used by the
round-11 scale sweeps. The driver ships sf0.001/0.01/0.1 only; this
builds a seeded, deterministic sf1 into an output dir (default
/tmp/sf1) with the SAME schemas and the same marginal structure as
/root/testdata/sf0.1 — so per-query sf0.1 -> sf1 timing ratios isolate
scaling shape, not distribution drift.

What "matched marginals" means per table:
  documents   50k docs (10x), the SAME vocabulary as sf0.1 (vocabulary
              determines gram-bucket density — the quadratic term in the
              similarity joins), same doc-length/lang distributions, same
              ~0.16% exact-dup rate plus 200 3-word-edit near-dups.
  embeddings  20k x 64 (10x), unit-norm, weak 10-center label bias,
              ~1% near-dup injections — the sf0.1 recipe scaled.
  events      1M rows (10x), users 0..14999 (10x, keeps ~67 events/user),
              same 5 types, same Jan-2024 span, log-uniform values.
  orders      1.5M rows (10x), custkeys 0..149999 (keeps ~10 orders/cust),
              same status/price/date marginals. events.user_id range ==
              sf0.1 orders custkey range, so a symlink mix-dir gives the
              "10x facts vs FIXED dimension" feature-store shape.
  lineitem    6M rows (10x) over the 10x orderkeys (~4 lines/order), same
              quantity/discount/tax/flag/date marginals.
  customer/part/supplier  10x rows, same shapes. nation/region copied
              verbatim (fixed-size lookups).

Usage: python3 scripts/gen_sf1.py [outDir]
Then:  SPARK_GRAFT_SF_DIR=<outDir> sbt "runMain graft.Bench"
       (compare per-query vs bench_out.json; >15x for 10x data on a
       query without a documented quadratic contract = investigate)
(The as-of A/B main tools/AsOfAb that also read this dir is deleted; source at commit 60fc5df.)

Requires duckdb + numpy (the driver-side python env has both). Runtime
~2-3 min. Uses no network.
"""
import os
import sys

import duckdb
import numpy as np
import random

out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
os.makedirs(out, exist_ok=True)  # duckdb COPY does not create parents
SRC = "/root/testdata/sf0.1"
con = duckdb.connect()
con.execute("SELECT setseed(0.42)")

# ---- documents: vocab + length + lang marginals lifted from sf0.1 ----
vocab = [r[0] for r in con.execute(
    f"SELECT DISTINCT unnest(string_split(text,' ')) w "
    f"FROM read_parquet('{SRC}/documents.parquet') ORDER BY 1").fetchall()]
lens = [r[0] for r in con.execute(
    f"SELECT len(string_split(text,' ')) "
    f"FROM read_parquet('{SRC}/documents.parquet')").fetchall()]
langs, weights = zip(*con.execute(
    f"SELECT lang, count(*) FROM read_parquet('{SRC}/documents.parquet') "
    f"GROUP BY 1 ORDER BY 1").fetchall())  # ordered: GROUP BY order is
# nondeterministic and would reshuffle which random draw maps to which lang
rng = random.Random(42)
np_rng = np.random.default_rng(42)
N = 50000
docs = []
for i in range(N):
    L = rng.choice(lens)
    docs.append(" ".join(rng.choice(vocab) for _ in range(L)))
# dup structure: ~0.16% exact dups (80 pairs) + 200 near-dups (3-word edits)
for _ in range(80):
    a, b = rng.randrange(N), rng.randrange(N)
    docs[b] = docs[a]
for _ in range(200):
    a, b = rng.randrange(N), rng.randrange(N)
    w = docs[a].split()
    for _ in range(3):
        w[rng.randrange(len(w))] = rng.choice(vocab)
    docs[b] = " ".join(w)
rows = [(i, t, rng.choices(langs, weights)[0], f"src{i % 20}", len(t))
        for i, t in enumerate(docs)]
con.execute("CREATE TABLE d(doc_id BIGINT, text VARCHAR, lang VARCHAR, "
            "source VARCHAR, n_chars BIGINT)")
con.executemany("INSERT INTO d VALUES (?,?,?,?,?)", rows)
con.execute(f"COPY d TO '{out}/documents.parquet' (FORMAT PARQUET)")

# ---- embeddings: 20k x 64 unit-norm, label bias, near-dup injections ----
M, D = 20000, 64
centers = np_rng.normal(0, 0.02, size=(10, D))
labels = np_rng.integers(0, 10, size=M)
vecs = np_rng.normal(0, 1.0, size=(M, D)) * 0.12 + centers[labels]
vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
for _ in range(200):
    a, b = np_rng.integers(0, M), np_rng.integers(0, M)
    v = vecs[a] + np_rng.normal(0, 0.01, size=D)
    vecs[b] = v / np.linalg.norm(v)
    labels[b] = labels[a]
con.execute("CREATE TABLE e(vec_id BIGINT, embedding FLOAT[], label INTEGER)")
con.executemany("INSERT INTO e VALUES (?,?,?)",
                [(int(i), [float(x) for x in vecs[i]], int(labels[i]))
                 for i in range(M)])
con.execute(f"COPY e TO '{out}/embeddings.parquet' (FORMAT PARQUET)")

# ---- events: 1M rows, 10x users, same span/type/value shapes ----
con.execute(f"""
COPY (
  WITH r AS (
    SELECT
      TIMESTAMP '2024-01-01 00:00:00'
        + INTERVAL (floor(random()*2591940)::BIGINT) SECOND
        + INTERVAL (floor(random()*1000000)::BIGINT) MICROSECOND AS ts,
      floor(random()*15000)::BIGINT AS user_id,
      ['click','view','purchase','signup','error'][1+floor(random()*5)::INT] AS event_type,
      round(exp(random()*6.1)*0.07, 2) AS value,
      '{{"k": ' || floor(random()*100)::INT || '}}' AS props
    FROM range(1000000)
  )
  SELECT (row_number() OVER (ORDER BY ts)) - 1 AS event_id,
         ts, user_id, event_type, value, props
  FROM r ORDER BY event_id
) TO '{out}/events.parquet' (FORMAT PARQUET)
""")

# ---- orders: 1.5M rows, 10x custkeys ----
con.execute(f"""
COPY (
  SELECT
    range AS o_orderkey,
    floor(random()*150000)::BIGINT AS o_custkey,
    ['F','O','P'][1+floor(random()*3)::INT] AS o_orderstatus,
    round(1000 + random()*499000, 2) AS o_totalprice,
    (TIMESTAMP '1995-01-01 00:00:00'
       + INTERVAL (floor(random()*2404)::BIGINT) DAY) AS o_orderdate,
    ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'][1+floor(random()*5)::INT] AS o_orderpriority
  FROM range(1500000)
) TO '{out}/orders.parquet' (FORMAT PARQUET)
""")

# ---- lineitem: 6M rows over the 10x orderkeys ----
con.execute(f"""
COPY (
  WITH base AS (
    SELECT floor(random()*1500000)::BIGINT AS l_orderkey,
           floor(random()*200000)::BIGINT AS l_partkey,
           floor(random()*10000)::BIGINT AS l_suppkey,
           (1+floor(random()*50))::DOUBLE AS l_quantity,
           round(0.01*floor(random()*11), 2) AS l_discount,
           round(0.01*floor(random()*9), 2) AS l_tax,
           ['A','N','R'][1+floor(random()*3)::INT] AS l_returnflag,
           ['O','F'][1+floor(random()*2)::INT] AS l_linestatus,
           (TIMESTAMP '1995-01-01' + INTERVAL (floor(random()*2500)::BIGINT) DAY) AS l_shipdate,
           round(900 + random()*1200, 2) AS unit_p
    FROM range(6000000)
  )
  SELECT l_orderkey, l_partkey, l_suppkey,
         (row_number() OVER (PARTITION BY l_orderkey))::INT AS l_linenumber,
         l_quantity, round(l_quantity*unit_p, 2) AS l_extendedprice,
         l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate
  FROM base
) TO '{out}/lineitem.parquet' (FORMAT PARQUET)
""")

# ---- small dimensions ----
con.execute(f"""
COPY (
  SELECT range AS c_custkey,
         'Customer#' || lpad(range::VARCHAR, 9, '0') AS c_name,
         floor(random()*25)::INT AS c_nationkey,
         round(-1000 + random()*11000, 2) AS c_acctbal,
         ['MACHINERY','AUTOMOBILE','BUILDING','HOUSEHOLD','FURNITURE'][1+floor(random()*5)::INT] AS c_mktsegment
  FROM range(150000)
) TO '{out}/customer.parquet' (FORMAT PARQUET)
""")
con.execute(f"""
COPY (
  SELECT range AS p_partkey,
         ['red','new','small','large','hot'][1+floor(random()*5)::INT] || ' ' ||
         ['widget','gizmo','bolt','ring','rod'][1+floor(random()*5)::INT] AS p_name,
         'Brand#' || (1+floor(random()*25)::INT) AS p_brand,
         ['ECONOMY','MEDIUM','SMALL','LARGE','STANDARD','PROMO'][1+floor(random()*6)::INT] AS p_type,
         (1+floor(random()*50))::INT AS p_size,
         round(900 + 0.1*(range % 1000), 2) AS p_retailprice
  FROM range(200000)
) TO '{out}/part.parquet' (FORMAT PARQUET)
""")
con.execute(f"""
COPY (
  SELECT range AS s_suppkey,
         'Supplier#' || lpad(range::VARCHAR, 9, '0') AS s_name,
         floor(random()*25)::INT AS s_nationkey,
         round(-1000 + random()*11000, 2) AS s_acctbal
  FROM range(10000)
) TO '{out}/supplier.parquet' (FORMAT PARQUET)
""")
for t in ("nation", "region"):
    con.execute(f"COPY (SELECT * FROM '{SRC}/{t}.parquet') "
                f"TO '{out}/{t}.parquet' (FORMAT PARQUET)")

for t in ("documents", "embeddings", "events", "orders", "lineitem",
          "customer", "part", "supplier", "nation", "region"):
    print(t, con.execute(f"SELECT count(*) FROM '{out}/{t}.parquet'").fetchone()[0])
