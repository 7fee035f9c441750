#!/usr/bin/env python3
"""Builds the 10x replica the scale_10x workload reads.

Same replication model as tools/make10x.py, limited to the tables the
scale queries read (events, documents, embeddings): every entity key
shifts per replica, so per-key series and document sizes stay as at sf0.1
and the data grows by "more entities". Replica documents prefix every
token with the replica number and replica embeddings get a deterministic
perturbation, so pair queries do not turn quadratic on exact twins. Facts
are split into ~4 MB files, as a warehouse would hold them.

    python3 perfbench/replica.py <sf0.1 dir> <out dir> [replicas=10]
"""
import os
import sys


def build(src, out, k=10):
    import duckdb

    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 1")  # one writer: the same files on every build

    def t(name):
        return f"'{src}/{name}.parquet'"

    def maxkey(table, key):
        return con.execute(f"SELECT max({key}) + 1 FROM {t(table)}").fetchone()[0]

    def copy(sql, table):
        con.execute(f"COPY ({sql}) TO '{out}/{table}.parquet' "
                    "(FORMAT PARQUET, FILE_SIZE_BYTES '4MB')")

    r = f"(SELECT unnest(range({k})) AS r)"
    ev, us = maxkey("events", "event_id"), maxkey("events", "user_id")
    docs, vecs = maxkey("documents", "doc_id"), maxkey("embeddings", "vec_id")
    copy(f"""SELECT event_id + r * {ev} AS event_id, ts,
               user_id + r * {us} AS user_id, event_type, value, props
             FROM {t('events')} CROSS JOIN {r}""", "events")
    copy(f"""SELECT doc_id + r * {docs} AS doc_id,
               CASE WHEN r = 0 THEN text ELSE array_to_string(
                 list_transform(string_split(text, ' '),
                   w -> 'r' || CAST(r AS VARCHAR) || w), ' ') END AS text,
               lang, source, n_chars
             FROM {t('documents')} CROSS JOIN {r}""", "documents")
    copy(f"""WITH p AS (
               SELECT vec_id + r * {vecs} AS vec_id,
                 list_transform(list_zip(embedding,
                     range(1, len(embedding) + 1)), z ->
                   CAST(z[1] + 0.05 * r * sin(vec_id * 7.13 + z[2] * 1.77)
                     AS FLOAT)) AS e,
                 label
               FROM {t('embeddings')} CROSS JOIN {r})
             SELECT vec_id,
               list_transform(e, x -> CAST(x / sqrt(list_sum(
                 list_transform(e, y -> y * y))) AS FLOAT)) AS embedding,
               label
             FROM p""", "embeddings")


if __name__ == "__main__":
    build(sys.argv[1], sys.argv[2], int(sys.argv[3]) if len(sys.argv) > 3 else 10)
