"""Scale soak (VERDICT r2 #7): one rung above bench.

Generates ~sf1-equivalent tables by 10× replication of sf0.1 into
/tmp/soak_sf1 (6M-row lineitem, 50k-doc documents, 150k customers, 20k
embeddings), then times the slowest catalog queries at sf0.1 vs the soak
dir and prints per-query scaling exponents
(log10(t_big/t_small) — 1.0 = linear in rows, assuming 10× rows).

Replication is designed so DATA distribution scales honestly instead of
creating artifact duplicate clusters:
- documents: every token gets a per-replica suffix, so shingle/simhash/
  minhash near-dup structure is independent across replicas (10× docs ⇒
  ~10× intra-replica pairs, not 100× cross-replica dup pairs);
- embeddings: components perturbed per replica (quantization-visible but
  cluster-preserving); seed ids (vec_id < k) stay unique to replica 0;
- customer: names regenerated from the new key (uniform-format corpus
  grows 10× — the fuzzy-matching worst case scales genuinely);
- lineitem: orderkeys offset per replica, value columns untouched.
Small/auxiliary tables are copied as-is.

Three rungs, selected with ``--rung`` (each reproducing a SCALING.md
section):

- ``sf1`` (default): every big table ×10 — the broad 10-slowest sweep.
- ``lineitem100``: lineitem ×100 (60M rows), rest as-is — the
  relational-core rung (star/percentile/rollup aggs).
- ``docs100``: documents ×100 (500k docs), rest as-is — the document
  pipeline rung (dedup/minhash/simhash/scoring).
- ``events25``: events ×25 (2.5M rows) + customer ×25 (so the enrich
  join's match density is preserved: user_id and c_custkey get the same
  per-replica offset), rest as-is — the STREAMING rung (windowed agg,
  dedup, stream-stream interval join, stream-static enrich). Replicas
  share the event-time range, so watermark horizons hold constant while
  key cardinality and row volume grow 25× — state size per store and
  micro-batch time must scale with input, not blow past it.

Usage: python tools/soak_scale.py [--rung=sf1|lineitem100|docs100]
       [--gen-only|--run-only] [query ...]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SRC = os.environ.get("SOAK_SRC", "/root/testdata/sf0.1")

RUNGS = {
    # name -> (dst, replicas, tables-to-replicate, default queries)
    "sf1": (
        "/tmp/soak_sf1",
        10,
        ["documents", "embeddings", "customer", "lineitem"],
        [
            "q259_pq_codes",
            "q342_dedup_clusters_star",
            "q290_fuzzy_pairs",
            "q346_simhash_blocked",
            "q344_dedup_ngram_jaccard",
            "q299_dedup_apply",
            "q350_dedup_clusters",
            "q255_kmeans_cells",
            "q227_percentile",
            "a244_dedup_minhash_lsh",
        ],
    ),
    "lineitem100": (
        "/tmp/soak_lineitem100",
        100,
        ["lineitem"],
        [
            "q01_star_revenue",
            "q227_percentile",
            "q192_grouped_multi_agg",
            "q221_rollup",
        ],
    ),
    "docs100": (
        "/tmp/soak_docs100",
        100,
        ["documents"],
        [
            "a242_dedup_exact",
            "a243_dedup_minhash_sig",
            "a244_dedup_minhash_lsh",
            "q346_simhash_blocked",
            "q205_text_quality",
            "q260_batch_score",
        ],
    ),
    "events25": (
        "/tmp/soak_events25",
        25,
        ["events", "customer"],
        [
            "q269_streaming_window",
            "q326_stream_dedup",
            "q349_stream_join",
            "q262_stream_enrich",
        ],
    ),
    # r6 (VERDICT r5 item 6): the next decade-ish rung above events25,
    # specifically to check whether a76's dedup-state exponent flattens
    # once key churn saturates (r5 measured +0.49/decade at ×25).
    "events250": (
        "/tmp/soak_events250",
        250,
        ["events", "customer"],
        [
            "q269_streaming_window",
            "q326_stream_dedup",
            "q349_stream_join",
            "q262_stream_enrich",
        ],
    ),
    # r7 (VERDICT r6 item 5): CHURN-mode streaming-dedup rungs. The plain
    # events rungs give every event a fresh key, so a76 only ever INSERTS
    # state — honest but churn-blind. Here event ids are remapped onto a
    # heavy-tailed key space of ~rows/50 keys (deterministic Knuth-scramble
    # uniform, cubed for skew), so ~98% of arrivals hit EXISTING state
    # (lookup + drop) and the watermark actually evicts. Generate BOTH
    # rungs, then run the big one against the small as its own baseline:
    #   python tools/soak_scale.py --rung=events1churn  --gen-only
    #   python tools/soak_scale.py --rung=events25churn --gen-only
    #   SOAK_SRC=/tmp/soak_events1churn \
    #     python tools/soak_scale.py --rung=events25churn --run-only
    "events1churn": (
        "/tmp/soak_events1churn",
        1,
        ["events_churn"],
        ["q326_stream_dedup"],
    ),
    "events25churn": (
        "/tmp/soak_events25churn",
        25,
        ["events_churn"],
        ["q326_stream_dedup"],
    ),
}

ALL_TABLES = [
    "region", "nation", "part", "supplier", "orders", "events",
    "documents", "embeddings", "customer", "lineitem",
]


def _replicate_sql(table: str, rep: str, replicas: int = 1) -> str:
    """Per-table replication SQL — designed so data STRUCTURE scales
    honestly (see module docstring)."""
    if table == "events_churn":
        # heavy-tailed REPEATED keys: u = Knuth-scrambled uniform in
        # [0,1), key = floor(K * u^3) over K ≈ total_rows/50 keys (key
        # count grows with volume, mean repetition stays ~50×, head keys
        # are hot). Deterministic — no random().
        return f"""
        SELECT CAST(floor(
                 (SELECT count(*) * {replicas} / 50.0
                  FROM '{SRC}/events.parquet')
                 * pow(((e.event_id * 2654435761 + r.i * 40503)
                        % 1048576) / 1048576.0, 3)
               ) AS BIGINT) AS event_id,
               e.ts,
               e.user_id + r.i * 10000000 AS user_id,
               e.event_type, e.value, e.props
        FROM '{SRC}/events.parquet' e CROSS JOIN {rep} r
        """
    if table == "documents":
        return f"""
        SELECT d.doc_id + r.i * 10000000 AS doc_id,
               array_to_string(
                 list_transform(string_split(d.text, ' '),
                                w -> w || '_r' || r.i), ' ') AS text,
               d.lang, d.source, d.n_chars
        FROM '{SRC}/documents.parquet' d CROSS JOIN {rep} r
        """
    if table == "embeddings":
        return f"""
        SELECT e.vec_id + r.i * 10000000 AS vec_id,
               list_transform(e.embedding,
                              x -> CAST(x + 0.0001 * r.i AS FLOAT))
                 AS embedding,
               e.label
        FROM '{SRC}/embeddings.parquet' e CROSS JOIN {rep} r
        """
    if table == "customer":
        return f"""
        SELECT c.c_custkey + r.i * 10000000 AS c_custkey,
               'Customer#' || lpad(CAST(c.c_custkey + r.i * 1000000
                                        AS VARCHAR), 9, '0') AS c_name,
               c.c_nationkey, c.c_acctbal, c.c_mktsegment
        FROM '{SRC}/customer.parquet' c CROSS JOIN {rep} r
        """
    if table == "events":
        return f"""
        SELECT e.event_id + r.i * 100000000 AS event_id,
               e.ts,
               e.user_id + r.i * 10000000 AS user_id,
               e.event_type, e.value, e.props
        FROM '{SRC}/events.parquet' e CROSS JOIN {rep} r
        """
    if table == "lineitem":
        return f"""
        SELECT l.* REPLACE (l.l_orderkey + r.i * 100000000 AS l_orderkey)
        FROM '{SRC}/lineitem.parquet' l CROSS JOIN {rep} r
        """
    raise ValueError(f"no replication recipe for {table}")


def generate(dst: str, replicas: int, replicate: list[str]) -> None:
    import duckdb

    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    rep = f"(SELECT unnest(range({replicas})) AS i)"

    for table in replicate:
        # "<name>_churn" recipes land in the base table's file slot
        out = os.path.join(
            dst, f"{table.replace('_churn', '')}.parquet"
        )
        t = time.time()
        con.execute(
            f"COPY ({_replicate_sql(table, rep, replicas)}) TO '{out}'"
            " (FORMAT PARQUET)"
        )
        n = con.execute(f"SELECT count(*) FROM '{out}'").fetchone()[0]
        print(f"  {table}: {n} rows [{time.time() - t:.1f}s]", flush=True)
    for name in ALL_TABLES:
        p = os.path.join(dst, f"{name}.parquet")
        if not os.path.exists(p):
            shutil.copy(os.path.join(SRC, f"{name}.parquet"), p)
    print(f"soak tables ready in {dst}", flush=True)


def run(queries: list[str], dst: str, decades: float) -> dict:
    from xml_to_parquet_spark.session import get_spark
    from xml_to_parquet_spark.workload import QUERIES

    spark = get_spark()
    # warmup
    QUERIES[queries[0]].fn(spark, "/root/testdata/sf0.001").count()
    results = {}
    for name in queries:
        fn = QUERIES[name].fn
        t0 = time.time()
        n_small = fn(spark, SRC).count()
        t_small = time.time() - t0
        t0 = time.time()
        n_big = fn(spark, dst).count()
        t_big = time.time() - t0
        import math

        exp = (
            math.log10(max(t_big, 1e-3) / max(t_small, 1e-3)) / decades
        )
        results[name] = {
            "t_sf01": round(t_small, 2),
            "t_soak": round(t_big, 2),
            "rows_sf01": n_small,
            "rows_soak": n_big,
            "exponent_per_decade": round(exp, 2),
        }
        print(
            f"  {name:28s} {t_small:6.2f}s -> {t_big:7.2f}s"
            f"  exp/decade={exp:+.2f}  rows {n_small} -> {n_big}",
            flush=True,
        )
    return results


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    flags = {a for a in sys.argv[1:] if a.startswith("--")}
    rung = next(
        (f.split("=", 1)[1] for f in flags if f.startswith("--rung=")),
        "sf1",
    )
    dst, replicas, replicate, default_queries = RUNGS[rung]
    dst = os.environ.get("SOAK_DST", dst)
    if "--run-only" not in flags:
        generate(dst, replicas, replicate)
    if "--gen-only" not in flags:
        import math

        res = run(args or default_queries, dst, math.log10(replicas))
        print(json.dumps(res))
