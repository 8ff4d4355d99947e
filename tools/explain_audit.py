"""Physical-plan audit: assert the scale-critical plan properties hold.

Checks, per workload query (at sf0.01 — plans don't change with sf):
- star/dim joins are BroadcastHashJoin, never SortMergeJoin on a fact side
  where we demand broadcast
- parquet scans carry PushedFilters when the query filters source columns
- scans read only the needed columns (ReadSchema pruning)

Prints a PASS/WARN table; exits 1 on hard failures. Evidence for
SCALING.md.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = "/root/testdata/sf0.01"

# queries where a SortMergeJoin would mean a broken broadcast decision
BROADCAST_ONLY = {
    "q01_star_revenue",
    "q199_star_dim_keys",
    "q267_star_build",
    "q213_knn_brute",
    "q219_semi_join",
    "a247_anti_join",
}
# queries whose filters must reach the parquet scan
PUSHDOWN = {
    "q01_star_revenue": "l_shipdate",
    "q194_project_filter": "o_orderstatus",
    "q219_semi_join": "o_orderstatus",
}
# query → (table scanned, max columns allowed in ReadSchema)
PRUNING = {
    "q194_project_filter": ("orders", 5),
    "q01_star_revenue": ("lineitem", 4),
    "q196_sort_limit": ("orders", 2),
    "q272_hash_sample": ("documents", 4),
    "q276_grouped_topk": ("documents", 3),
    "q293_repetition_features": ("documents", 2),
    "q256_dedup_incremental": ("documents", 2),
    "q286_assign_split": ("documents", 1),
    # URL ops build from (doc_id, source) only — the wide text column
    # must never reach the scan
    "q264_url_normalize": ("documents", 2),
    "q265_domain_cap": ("documents", 2),
    # r9: chunking reads exactly (doc_id, text); the WAV entry builds
    # payloads from ids alone, so the text column must be pruned; the
    # JL projection reads exactly (vec_id, embedding)
    "q333_chunk_documents": ("documents", 2),
    "a228_wav_features": ("documents", 1),
    "a266_jl_project": ("embeddings", 2),
    "a229_winnow_fingerprints": ("documents", 2),
    "a230_skipgram_cooc": ("documents", 1),
    "a231_phrase_query": ("documents", 2),
}
# query → physical node that MUST appear (scale-critical plan property)
REQUIRED_NODES = {
    "q276_grouped_topk": "WindowGroupLimit",  # pre-shuffle per-group top-k
    "q265_domain_cap": "WindowGroupLimit",  # cap ≤ k rows/domain/map task
    "q283_tfidf_terms": "WindowGroupLimit",
    "q282_contamination": "BroadcastHashJoin",  # eval shingles broadcast
    # tiled all-pairs gemm runs as grouped pandas — NOT a driver collect
    "a246_dedup_embedding": "FlatMapGroupsInPandas",
    # r6: ADC candidates come from a broadcast equi-join on cell id
    "q347_ivf_pq_adc": "BroadcastHashJoin",
    # r10: no-split packing runs shard-grouped in Arrow workers — never a
    # driver-side loop
    "a253_pack_nosplit": "FlatMapGroupsInPandas",
}
# query → physical node that must NOT appear
FORBIDDEN_NODES = {
    # a CollectLimit/driver materialization in the neardup path would mean
    # the corpus flows through the driver again (VERDICT r1 finding #2)
    "a246_dedup_embedding": "CollectLimit",
    # blocked pair searches must never plan an all-pairs cross product
    "q290_fuzzy_pairs": "CartesianProduct",
    "q292_fuzzy_qgram": "CartesianProduct",
    "q346_simhash_blocked": "CartesianProduct",
    # r6: repeated-k-gram spans must join postings↔repeated-hash set on
    # the gram hash, never cross-product; ADC must never go all-pairs
    "q324_substring_dedup": "CartesianProduct",
    "q347_ivf_pq_adc": "CartesianProduct",
    # r7: semantic dedup's in-cell pairing must be an equi-join on cell
    "q345_semantic_dedup": "CartesianProduct",
    # r7: rare-gram postings⋈freq is an equi-join on the gram; the only
    # cross join is the broadcast 1-row total (BroadcastNestedLoopJoin)
    "q327_rare_gram_lm": "CartesianProduct",
    # r9: k-core peels restrict edges through keep-set equi-joins —
    # never a cross product — and the multi-probe semantic-dedup
    # candidate join stays an equi-join on the probed cell
    "a264_k_core": "CartesianProduct",
    # r9: phrase/proximity postings intersect through equi-joins only
    "a231_phrase_query": "CartesianProduct",
    "a255_near_query": "CartesianProduct",
    "a256_more_like_this": "CartesianProduct",
    # r9: JL-ANN stage 1 is a BROADCAST nested loop (|Q| rows), stage 2
    # an id equi-join — an unbroadcast cross product would mean the
    # corpus self-joined
    "a267_jl_ann": "CartesianProduct",
    # r10: image/audio perceptual-hash pair searches reuse the pigeonhole
    # chunk equi-join — all-pairs would defeat the blocking
    "a269_image_phash_dedup": "CartesianProduct",
    "q337_audio_fp_dedup": "CartesianProduct",
    # r12: the containment candidate join is an equi-join on the
    # contained side's prefix shingles (container side = full postings);
    # a cross product would mean the one-sided prefix filter collapsed
    "q294_containment_pairs": "CartesianProduct",
    # r12: the sketch screen is bottom-k rows equi-joined on the hash
    "q300_containment_sketch": "CartesianProduct",
    # r13: the screen->exact composition inherits both stages' shapes —
    # survivors semi-join the contained side, then the prefix equi-join
    "q351_containment_screened": "CartesianProduct",
    # r13: hot/cold split — both branches stay equi-joins (broadcast
    # hash on the hot side), so the ban holds for the skewed fixture
    "q352_containment_skew": "CartesianProduct",
    # r13: the constraint suite's ref check joins broadcast dim key
    # sets — a sort-merge join would mean the fact table shuffled for
    # a report that must stay one-scan
    "q359_constraint_suite": "SortMergeJoin",
    # r13: zonemap/fd cross joins are 1-row scalar broadcasts
    # (BroadcastNestedLoopJoin); a CartesianProduct would mean a
    # non-singleton side slipped in
    "q360_zonemap_pruning": "CartesianProduct",
    "q361_fd_profile": "CartesianProduct",
}
# streaming/pandas plans don't expose these nodes
SKIP = {"q269_streaming_window", "q268_multimodal_decode"}


def main() -> int:
    from xml_to_parquet_spark.session import get_spark
    from xml_to_parquet_spark.workload import QUERIES

    spark = get_spark("explain_audit")
    from xml_to_parquet_spark.session import set_log_level

    set_log_level(spark, "ERROR")
    hard_fail = []

    for name, spec in QUERIES.items():
        if name in SKIP:
            continue
        try:
            df = spec.fn(spark, SF_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            print(f"WARN  {name}: could not plan ({str(e)[:80]})")
            continue
        notes = []
        if name in BROADCAST_ONLY:
            if "SortMergeJoin" in plan:
                notes.append("SortMergeJoin present (expected broadcast)")
                hard_fail.append(name)
            elif (
                "BroadcastHashJoin" not in plan
                and "BroadcastNestedLoopJoin" not in plan
                and "Join" in plan
            ):
                # cross joins legitimately plan as BroadcastNestedLoopJoin
                notes.append("no broadcast join found")
        if name in REQUIRED_NODES and REQUIRED_NODES[name] not in plan:
            notes.append(f"missing required node {REQUIRED_NODES[name]}")
            hard_fail.append(name)
        if name in FORBIDDEN_NODES and FORBIDDEN_NODES[name] in plan:
            notes.append(f"forbidden node {FORBIDDEN_NODES[name]} present")
            hard_fail.append(name)
        if name in PUSHDOWN and f"PushedFilters: []" in plan:
            # crude: any empty pushdown list on a filtered query is a smell
            notes.append("a scan has empty PushedFilters")
        if name in PRUNING:
            table, max_cols = PRUNING[name]
            for line in plan.splitlines():
                if "ReadSchema" in line and table not in line:
                    continue
            # count columns in the ReadSchema of the target table's scan
            import re

            scans = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
            widths = [len(s.split(",")) for s in scans if s]
            if widths and min(widths) > max_cols:
                notes.append(
                    f"narrowest scan reads {min(widths)} cols (cap {max_cols})"
                )
                hard_fail.append(name)
        status = "FAIL" if name in hard_fail else ("warn" if notes else "ok")
        print(f"{status:4}  {name}" + (f": {'; '.join(notes)}" if notes else ""))

    print(f"\n{len(hard_fail)} hard failures" + (f": {hard_fail}" if hard_fail else ""))
    return 1 if hard_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
