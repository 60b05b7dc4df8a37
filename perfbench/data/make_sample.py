#!/usr/bin/env python3
"""Writes the query_mix tables: a 10 % sample of the sf0.1 test tables.

    python3 perfbench/data/make_sample.py <sf0.1 dir> <q_minhash_pairs dir> perfbench/data/sf0.1-sample

The full sf0.1 tables make one round of the nine mix queries take about
20 s and their DuckDB oracle about 100 s on a 4-core host, beyond what one
benchmark run may take. The sample keeps sf0.1's rows and values and only
the columns the queries and oracles read, and samples each table so that
the structure the queries work on survives:

- lineitem: whole orders, those whose key hashes into the first 10 %;
- documents: whole near-duplicate clusters (connected components of the
  MinHash pairs of a full sf0.1 run, `q_minhash_pairs`), those whose
  smallest doc_id hashes into the first 10 %, so near-duplicates keep
  their partners;
- embeddings: vec_id < 200 (ids are assigned independently of content,
  and the IVF query probes with vec_id < 20);
- customer: every row (the kNN queries read c_custkey < 20 only).

The pairs directory is the q_minhash_pairs result a run over the full
tables leaves under perfbench/out/query_mix-trace0/mix_oracle/.
"""
import sys
from pathlib import Path

import duckdb

FRACTION = 100  # per mille
HASH = "(({k}) * 2654435761) % 1000 < {f}"


def clusters(pairs):
    """doc_id -> smallest doc_id of its connected component."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def main():
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    src, pairs_dir, dst = (Path(a) for a in sys.argv[1:])
    dst.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    pairs = con.sql(f"SELECT d1, d2 FROM '{pairs_dir}/*.parquet'").fetchall()
    rep = clusters(pairs)
    docs = [d for (d,) in con.sql(f"SELECT doc_id FROM '{src}/documents.parquet'").fetchall()]
    keep = [d for d in docs if (rep.get(d, d) * 2654435761) % 1000 < FRACTION]
    con.sql("CREATE TABLE keep_docs(doc_id BIGINT)")
    con.executemany("INSERT INTO keep_docs VALUES (?)", [(d,) for d in keep])
    queries = {
        "lineitem": f"SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity "
                    f"FROM '{src}/lineitem.parquet' "
                    f"WHERE {HASH.format(k='l_orderkey', f=FRACTION)} ORDER BY l_orderkey, l_linenumber",
        "customer": f"SELECT c_custkey, c_name FROM '{src}/customer.parquet' ORDER BY c_custkey",
        "documents": f"SELECT doc_id, text, lang FROM '{src}/documents.parquet' "
                     f"WHERE doc_id IN (SELECT doc_id FROM keep_docs) ORDER BY doc_id",
        "embeddings": f"SELECT vec_id, embedding, label FROM '{src}/embeddings.parquet' "
                      f"WHERE vec_id < 200 ORDER BY vec_id",
    }
    for t, q in queries.items():
        out = dst / f"{t}.parquet"
        con.sql(f"COPY ({q}) TO '{out}' (FORMAT parquet, COMPRESSION zstd)")
        n = con.sql(f"SELECT count(*) FROM '{out}'").fetchone()[0]
        print(f"{t}: {n} rows, {out.stat().st_size} bytes")


if __name__ == "__main__":
    main()
