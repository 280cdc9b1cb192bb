#!/usr/bin/env python3
"""Structure-preserving ~10x blowup of an sf corpus, ALL TEN tables —
the r11 full-suite scale fixture (VERDICT r10 item 6 wants one
graft.Bench pass over the whole catalog at 10x, not just per-query
MiniBench floors, to catch cross-query interference and plan flips
under contended memory).

Recipe (the r9/r10 per-copy-salt protocol, extended to every table):
  * copy 0 is the original corpus byte-for-byte; copies 1..9 shift
    every key domain by i*(max_key+1) so referential integrity holds
    WITHIN each copy and copies never join across — per-copy join
    statistics are identical to sf0.1, volume is 10x.
  * documents: per-word per-copy suffix ("w" -> "w_b3") keeps each
    copy's dup/posting/shingle structure identical while the ten
    copies stay textually disjoint (posting lists grow 10x in count,
    not 10x in per-key depth); n_chars recomputed (the corpus invariant
    n_chars == length(text) holds on the source).
  * embeddings: copy i cyclically rotates each vector by i positions —
    a permutation applied uniformly within the copy preserves every
    within-copy pairwise cosine (ANN/dedup structure identical) while
    cross-copy cosines decorrelate (no artificial 10-way exact-dup
    clusters that would quadratically inflate pair volume).
  * nation/region stay 25/5 rows: dims don't grow with fact volume at
    100 TB either, and broadcast-side behavior should be measured at
    the realistic dim size.

Output dir ends in /sf0.1 so per-SF-dir-name fixtures (q58/q181/q189
media corpus sizes) resolve; the driver testdata is never touched.

Usage: python3 tools/make_blowup.py /root/testdata/sf0.1 /tmp/blowup_r11/sf0.1 [copies]
"""
import os
import sys

import duckdb


def main(src, dst, copies=10):
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 16")

    def t(name):
        return f"read_parquet('{src}/{name}.parquet')"

    def copy_out(sql, name):
        con.execute(f"COPY ({sql}) TO '{dst}/{name}.parquet' (FORMAT PARQUET)")
        n = con.execute(f"SELECT count(*) FROM read_parquet('{dst}/{name}.parquet')").fetchone()[0]
        print(f"{name}: {n} rows")

    # dims: as-is
    for name in ("nation", "region"):
        copy_out(f"SELECT * FROM {t(name)}", name)

    # per-domain key shifts (max+1 keeps copies disjoint, CRT-free)
    shift = {}
    for table, key in [("orders", "o_orderkey"), ("customer", "c_custkey"),
                       ("supplier", "s_suppkey"), ("part", "p_partkey"),
                       ("documents", "doc_id"), ("embeddings", "vec_id"),
                       ("events", "event_id"), ("events_user", None)]:
        if key:
            shift[table] = con.execute(
                f"SELECT max({key}) + 1 FROM {t(table.replace('_user',''))}").fetchone()[0]
    shift["events_user"] = con.execute(
        f"SELECT max(user_id) + 1 FROM {t('events')}").fetchone()[0]

    cp = f"range(0, {copies}) tt(i)"
    copy_out(f"""
        SELECT o_orderkey + i*{shift['orders']} AS o_orderkey,
               o_custkey + i*{shift['customer']} AS o_custkey,
               o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        FROM {t('orders')}, {cp}""", "orders")
    copy_out(f"""
        SELECT l_orderkey + i*{shift['orders']} AS l_orderkey,
               l_partkey + i*{shift['part']} AS l_partkey,
               l_suppkey + i*{shift['supplier']} AS l_suppkey,
               l_linenumber, l_quantity, l_extendedprice, l_discount,
               l_tax, l_returnflag, l_linestatus, l_shipdate
        FROM {t('lineitem')}, {cp}""", "lineitem")
    copy_out(f"""
        SELECT c_custkey + i*{shift['customer']} AS c_custkey,
               CASE WHEN i = 0 THEN c_name ELSE c_name || '_b' || i END AS c_name,
               c_nationkey, c_acctbal, c_mktsegment
        FROM {t('customer')}, {cp}""", "customer")
    copy_out(f"""
        SELECT s_suppkey + i*{shift['supplier']} AS s_suppkey,
               CASE WHEN i = 0 THEN s_name ELSE s_name || '_b' || i END AS s_name,
               s_nationkey, s_acctbal
        FROM {t('supplier')}, {cp}""", "supplier")
    copy_out(f"""
        SELECT p_partkey + i*{shift['part']} AS p_partkey,
               CASE WHEN i = 0 THEN p_name ELSE p_name || '_b' || i END AS p_name,
               p_brand, p_type, p_size, p_retailprice
        FROM {t('part')}, {cp}""", "part")
    copy_out(f"""
        SELECT event_id + i*{shift['events']} AS event_id, ts,
               user_id + i*{shift['events_user']} AS user_id,
               event_type, value, props
        FROM {t('events')}, {cp}""", "events")
    copy_out(f"""
        WITH salted AS (
          SELECT doc_id + i*{shift['documents']} AS doc_id,
                 CASE WHEN i = 0 THEN text
                      ELSE array_to_string(list_transform(
                             string_split(text, ' '), w -> w || '_b' || i), ' ')
                 END AS text,
                 lang, source
          FROM {t('documents')}, {cp})
        SELECT doc_id, text, lang, source,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM salted""", "documents")
    copy_out(f"""
        SELECT vec_id + i*{shift['embeddings']} AS vec_id,
               CASE WHEN i = 0 THEN embedding
                    ELSE CAST(list_concat(embedding[i+1:], embedding[1:i])
                              AS FLOAT[]) END AS embedding,
               label
        FROM {t('embeddings')}, {cp}""", "embeddings")


if __name__ == "__main__":
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/blowup_r11/sf0.1"
    main(src, dst, int(sys.argv[3]) if len(sys.argv) > 3 else 10)
