"""Shared deterministic constants for the LLM-pipeline operators.

Both the Spark query builders and the DuckDB oracle SQL are generated
from THESE values, so the two engines always agree on stopword lists,
MinHash permutations, and LSH hyperplanes. Everything is derived from
md5 of fixed strings — no RNG, no environment dependence.
"""

from __future__ import annotations

import hashlib

# --- text analysis ---------------------------------------------------------

STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "it", "for", "on")

LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it"),
    "es": ("el", "la", "de", "que", "y", "en", "los", "se"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit"),
    "fr": ("le", "les", "et", "des", "est", "dans", "une"),
}

#: BPE-ish tokenizer: letter runs, digit runs, single punctuation marks.
TOKEN_REGEX = "[a-z]+|[0-9]+|[^a-z0-9 ]"

# --- fingerprinting / dedup ------------------------------------------------

FINGERPRINT_GRAM = 5  #: tokens per winnowing k-gram
FINGERPRINT_WINDOW = 4  #: winnowing window (rolling min over this many grams)

# --- DSIR importance resampling --------------------------------------------

#: Hashed n-gram feature buckets. MEASURED round 11 (VERDICT r10 ask
#: #6, docs/PLANS.md "DSIR bucket capacity"): on the sf0.01 corpus the
#: old default B=1024 sat BELOW the collision floor — Spearman rank
#: correlation of per-doc logw vs a converged reference (B=262144) was
#: 0.858, i.e. hash collisions materially reorder the resampling
#: ranking — while B=8192 is converged (0.997 vs 64k and 256k, and
#: 64k-vs-256k at 0.9999 pins the reference itself). 8192 matches the
#: paper's 10k-bucket order, and the dense log-ratio model stays a
#: trivially-broadcast <=8192-row frame.
DSIR_BUCKETS = 8192
#: Gumbel top-k resample size for the registered query.
DSIR_SAMPLE_K = 100

SHINGLE_K = 3  #: tokens per MinHash shingle
MINHASH_PERMS = 16
MINHASH_BANDS = 4
MINHASH_ROWS = MINHASH_PERMS // MINHASH_BANDS
MINHASH_PRIME = 536870909  # largest prime < 2^29; a*h+b stays < 2^58
#: Exact-Jaccard floor of a verified near-dup edge. The full manifest
#: (``neardup_verified``) and the incremental one verify at this one
#: value, which their output-equality contract needs.
NEARDUP_MIN_JACCARD = 0.5


def _h(s: str, hexdigits: int) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:hexdigits], 16)


#: (a_j, b_j) for sig_j = min over shingles of (a_j*h32 + b_j) % PRIME.
MINHASH_COEFFS = tuple(
    (_h(f"minhash-a-{j}", 7) | 1, _h(f"minhash-b-{j}", 7))
    for j in range(MINHASH_PERMS)
)

SIMHASH_BITS = 48

# --- similarity search -----------------------------------------------------

EMBEDDING_DIM = 64
LSH_PLANES = 4  #: 2^4 = 16 buckets — the DETERMINISTIC DEFAULT the
#: DuckDB oracles mirror; sized so sf0.01's 500 vectors keep ~30
#: candidates per bucket. Scale callers derive the count from N via
#: :func:`lsh_planes_for` instead.
LSH_TARGET_BUCKET = 32  #: target expected vectors per LSH bucket
ANN_QUERY_MOD = 50  #: query set = vec_id % ANN_QUERY_MOD == 0
ANN_TOPK = 10
ANN_LSH_TOPK = 5


def lsh_planes_for(n: int, target_bucket: int = LSH_TARGET_BUCKET) -> int:
    """Plane count that keeps the EXPECTED bucket population near
    ``target_bucket``: planes = ceil(log2(n / target_bucket)), floored
    at the deterministic default. 2^planes buckets × target_bucket ≈ n,
    so the within-bucket candidate join stays bounded as N grows —
    the scale knob the fixed ``LSH_PLANES`` constant lacks. (Expected
    population only: hyperplane buckets are data-skewed for clustered
    embeddings; multi-probe and re-ranking remain the recall knobs.)
    """
    planes = LSH_PLANES
    while (n >> planes) > target_bucket:
        planes += 1
    return planes


PQ_MAX_DTABLE_ROWS = 50_000_000  #: ADC distance-table broadcast bound
#: (Q·m·k rows, ~30 B each → ~1.5 GB at the bound; Spark's broadcast
#: hard cap is 8 GB). pq_topk/ivf_pq_topk raise past this instead of
#: failing the job late — batch the query set to stay under it.

KMEANS_CLUSTERS = 16  #: deterministic k-means default (IVF coarse
#: quantizer + SemDeDup clustering) — the count the DuckDB oracles
#: mirror. Scale callers derive k from N via :func:`kmeans_clusters_for`.


def kmeans_clusters_for(n: int) -> int:
    """Cluster count for the IVF/SemDeDup quantizer: k ≈ √N (the
    SemDeDup-style scaling — within-cluster pair work is then O(N·√N)
    total instead of O(N²/k) with fixed k), floored at the deterministic
    oracle default. The driver-side cost of auto-k is k×dim doubles per
    Lloyd round (the centroid literal re-emission), which stays tiny:
    √(10⁹ vectors) ≈ 32k centroids × 64 dims ≈ 16 MB."""
    import math

    return max(KMEANS_CLUSTERS, math.isqrt(max(0, int(n))))


def lsh_plane_weights(n_planes: int):
    """Deterministic ±1 hyperplanes (sign from md5 parity) for ANY
    plane count — plane p's weights depend only on p, so the first
    ``LSH_PLANES`` planes are always identical to the oracle-embedded
    defaults and raising the count strictly REFINES buckets (bucket
    bits are a prefix: agreement on p+1 planes implies agreement on p).
    """
    return tuple(
        tuple(
            1.0 if _h(f"plane-{p}-{d}", 2) % 2 == 0 else -1.0
            for d in range(EMBEDDING_DIM)
        )
        for p in range(n_planes)
    )


#: The oracle-default hyperplanes, embedded as literals in both engines.
LSH_PLANE_WEIGHTS = lsh_plane_weights(LSH_PLANES)


def sql_in_list(words) -> str:
    return "(" + ", ".join(f"'{w}'" for w in words) + ")"


def spark_array_lit(vals) -> str:
    return "array(" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in vals) + ")"


def duck_array_lit(vals) -> str:
    return "[" + ", ".join(repr(float(v)) for v in vals) + "]::DOUBLE[]"
