"""Generate tools/rows_only_manifest.json: the driver-consumable list of
queries that deliberately ship no DuckDB oracle, with machine-readable
reason codes — so a CORRECTNESS row with ``err: "no_oracle"`` is
distinguishable from breakage.

The reason map below is the single source of truth; the script asserts it
EXACTLY matches the registry's ``sql=None`` set, so a promotion (query
gains an oracle) or a new rows-only query without a declared reason fails
loudly here and in tests/test_coverage.py.

Reason codes:
  approx-sketch         HLL / KLL / CMS / theta estimates — values are
                        engine-specific by design; bounds asserted in tests
  approx-ann            LSH / IVF / int8 ANN — recall-bounded, not exact;
                        exact twins (l3, l3e, l16, l32) are oracle-checked
  hash-family-specific  HISTORICAL (no current members): xxhash64-based
                        signatures were believed irreproducible until
                        plans/xxh64_sql.py reproduced Spark's xxhash64 in
                        DuckDB bit-for-bit (r6 continuation), promoting l2
  engine-hash           same, for the fingerprint rolling hash
  iterative-kmeans      driver-held centroid iteration (RNG seeds pinned,
                        but float reduction order is engine-specific)
  iterative-linalg      power-iteration PCA — same float-order caveat
  binary-codec          decodes binary media columns; no codec in the
                        oracle engine. Closed-form decodes (l8b/c/f/g/h/i)
                        ARE oracle-checked
  model-stub            pluggable embedding surface; hash-projection stub
  greedy-packing-order  sequential greedy bin-packing — order-dependent
                        tie-breaks not expressible as set-based SQL
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

REASONS = {
    "l2_minhash_lsh_dedup": None,  # promoted r6 cont.: xxhash64-over-bytes reproduced in DuckDB (plans/xxh64_sql.py) -> full pipeline oracle
    "l2b_minhash_candidates": None,  # promoted r4: md5-family full oracle
    "l3b_ann_lsh_topk": None,  # promoted r6 cont.: vector.dot is a FIXED-ORDER sequential fold, so the unrolled left-associated IEEE sum reproduces buckets/cosines bit-for-bit in SQL
    "l3c_ivf_topk": None,  # promoted r6: integer-micros centroid sums -> full probe-path oracle
    "l3d_int8_topk": None,  # promoted r4: quantization is deterministic arithmetic
    "l12_fingerprint": None,  # promoted r4: md5-family full oracle
    "l8_multimodal_features": None,  # promoted r4: md5-byte stub oracle
    "l8d_frame_sample": None,  # promoted r5: closed-form frame-index/mean oracle
    "l8e_jpeg_decode": "binary-codec",
    "l8j_webp_lossy_decode": "binary-codec",
    "l9_embed_batch": None,  # promoted r4: md5-byte stub + ordered-sum oracle
    "l29b_semantic_dedup_bounded": None,  # promoted r6: xxhash64(bigint) reproduced in SQL -> re-split + pair stage fully unrolled
    "l31b_cms_estimates": None,  # promoted r6 cont.: xxh64 bytes + chained hashInt in SQL -> cells and min-estimates value-checked
    "l43_pca_project": "iterative-linalg",
    "l45_image_phash_dedup": "float-dct",  # hashing chain value-checked via the fixed-point twin l45b
    "l46_pca_rerank_topk": "iterative-linalg",
    "i10_streaming_cms": None,  # promoted r6 cont.: linear-sketch merge == batch build (test-pinned) + xxh64-in-SQL -> value-checked
    "d7_approx_percentile": "approx-sketch",
    "d8_approx_count_distinct": "approx-sketch",
    "d15_hll_mergeable_rollup": "approx-sketch",
    "d20_kll_quantile_rollup": "approx-sketch",
    "g7_theta_distinct_algebra": "approx-sketch",
    "l20b_pack_no_straddle": None,  # promoted r5: list_reduce FFD fold oracle
}


def build() -> dict:
    from oeem_etl_spark import plans
    from oeem_etl_spark.plans import registry

    plans.load_all()
    qs = registry.all_queries()
    rows_only = {n for n, q in qs.items() if q.sql is None}
    declared = {n for n, r in REASONS.items() if r is not None}
    missing = rows_only - declared
    stale = declared - rows_only
    if missing or stale:
        raise SystemExit(
            f"manifest out of sync — rows-only without reason: {sorted(missing)}; "
            f"reasons for oracle-checked queries: {sorted(stale)}"
        )
    return {
        n: {"reason": REASONS[n], "survey": qs[n].survey}
        for n in sorted(rows_only)
    }


def main() -> None:
    manifest = build()
    out = REPO / "tools" / "rows_only_manifest.json"
    out.write_text(json.dumps(manifest, indent=1, sort_keys=True) + "\n")
    print(f"{len(manifest)} rows-only queries -> {out}")


if __name__ == "__main__":
    main()
