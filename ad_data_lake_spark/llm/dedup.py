"""Deduplication operators for a training-data pipeline: exact
(content-hash), normalized, MinHash-LSH near-dup, SimHash, and exact
n-gram Jaccard verification.

Scale design (100 TB) — the thing that matters most here:
- exact/normalized dedup is one hash-groupBy with map-side partial
  aggregation; the shuffle carries (hash, id), never the text.
- MinHash-LSH is strictly bucketed: signatures are per-row array math
  (no shuffle), candidate pairs come from a self-join on (band_id,
  band_key) — only documents agreeing on an entire band ever meet.
  There is NO all-pairs cross join anywhere; candidate volume scales
  with true collision rate, not n².
- Jaccard verification runs only on candidate pairs, joining back the
  (distinct) shingle arrays.
- hashes are md5 hex strings so the DuckDB oracle reproduces every
  value exactly (a seeded murmur/xxhash would diverge across engines).

SimHash note: 16-bit fingerprints (md5-derived per-token hashes,
bit-majority vote) — wide enough to demonstrate the operator and verify
cross-engine, short enough that the oracle SQL stays readable; widen
BITS for production use.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark.sql.window import Window

from ad_data_lake_spark.llm.text import (
    exploded_shingles,
    quality_columns,
    words,
)
from ad_data_lake_spark.sources.tables import spread

N_HASHES = 9
N_BANDS = 3
ROWS_PER_BAND = N_HASHES // N_BANDS
SIMHASH_BITS = 16

# MinHash permutation family h_i(x) = (a_i·x + b_i) mod P over a 28-bit
# base hash (md5 prefix). One md5 per shingle total; the 9 per-seed
# passes are integer arithmetic — ~50× cheaper than md5-per-seed, which
# matters because higher-order-function lambdas run interpreted, not
# codegen'd. 28-bit base × 31-bit a stays far below 2^63 (ANSI-safe).
MINHASH_P = 4_294_967_291  # largest prime < 2^32
MINHASH_COEFFS: tuple[tuple[int, int], ...] = (
    (1_000_003, 12_345),
    (1_000_033, 543_210),
    (1_000_037, 987_654),
    (1_000_039, 192_837),
    (1_000_081, 564_738),
    (1_000_099, 102_938),
    (1_000_117, 475_869),
    (1_000_121, 806_142),
    (1_000_133, 319_708),
)


def content_hash(col: Column) -> Column:
    """sha256 of the raw text — the exact-dedup key."""
    return F.sha2(col, 256)


def normalize_text(col: Column) -> Column:
    """Casefold + whitespace-collapse + trim: the cheap normalization
    pass applied before hashing (catches reflowed/re-cased copies)."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def dedup_exact(corpus: DataFrame) -> DataFrame:
    """Exact dedup via content-hash groupBy: one row per distinct text,
    keeping the smallest doc_id (deterministic last-wins analogue) and
    the duplicate count. The shuffle key is the 64-hex hash, uniformly
    distributed — no skew at any scale."""
    return (
        corpus.select(content_hash(F.col("text")).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


def dedup_normalized(corpus: DataFrame) -> DataFrame:
    """Normalized dedup: hash of normalized text; catches copies that
    differ only in case/whitespace."""
    return (
        corpus.select(
            content_hash(normalize_text(F.col("text"))).alias("norm_hash"), "doc_id"
        )
        .groupBy("norm_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


def band_keys(sig: Column, n_bands: int = N_BANDS, rows: int = ROWS_PER_BAND) -> Column:
    """LSH banding: concatenate each contiguous run of ``rows``
    signature entries into one band key string. Two documents collide
    on a band iff that entire run matches."""
    return F.array(
        *[
            F.concat_ws(
                "_", *[F.element_at(sig, b * rows + r + 1) for r in range(rows)]
            )
            for b in range(n_bands)
        ]
    )


def _exploded_shingle_hashes(corpus: DataFrame, hash_family: str = "md5") -> DataFrame:
    """(doc_id, h28, h60): one row per shingle occurrence, both hash
    widths derived from a single hash call.

    ``hash_family``:
    - ``"md5"`` (default): hex-prefix integers — cross-engine
      reproducible, so the DuckDB oracle verifies every signature
      value. The cost is a cryptographic hash per shingle.
    - ``"xxhash64"``: the production family — Spark's codegen'd
      non-cryptographic hash, ~an order of magnitude cheaper per
      shingle and statistically equivalent for MinHash (uniform 28/60-
      bit values); not reproducible outside the JVM, so the oracle
      path keeps md5. Same planted-duplicate recall, measured in
      tests/test_llm_pipeline.py::test_minhash_hash_families_agree.

    Explode-to-rows is the deliberate scale shape: shingles come from
    the codegen'd window construction (``exploded_shingles``), and
    every downstream MinHash quantity is a multiplicity-invariant
    aggregate (min / collect_set) over these rows — whole-stage codegen
    with map-side partial aggregation end to end, versus per-row
    higher-order-function lambdas, which evaluate interpreted at
    ~1µs/element and dominated the old plan."""
    ex = exploded_shingles(corpus)
    if hash_family == "xxhash64":
        h60 = F.xxhash64(F.col("s")).bitwiseAND(F.lit((1 << 60) - 1))
    elif hash_family == "md5":
        m = F.md5(F.col("s"))
        h60 = F.conv(F.substring(m, 1, 15), 16, 10).cast("long")
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")
    return ex.select(
        "doc_id",
        # first 28 bits == first 60 bits >> 32: one conv instead of two
        F.shiftright(h60, 32).alias("h28"),
        h60.alias("h60"),
    )


def minhash_sigs(corpus: DataFrame, hash_family: str = "md5") -> DataFrame:
    """(doc_id, sig): the 9 signature entries as min() over the
    permuted 28-bit hashes — ONE fully codegen'd aggregate whose
    shuffle carries 9 longs per document (map-side partial min), the
    narrowest possible corpus pass. min() is invariant to shingle
    multiplicity, so values match the per-row array formulation (and
    the DuckDB oracle)."""
    ex = _exploded_shingle_hashes(corpus, hash_family)
    aggs = [
        F.min((F.col("h28") * a + b) % MINHASH_P).alias(f"_m{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    ]
    return (
        ex.groupBy("doc_id")
        .agg(*aggs)
        .select(
            "doc_id",
            F.array(*[F.col(f"_m{i}") for i in range(len(MINHASH_COEFFS))]).alias("sig"),
        )
    )


_PREPPED_SCHEMA = "doc_id long, sig array<long>, jset array<long>"
_DOC_H60_SCHEMA = "doc_id long, h60 long"


def _doc_shingle_h60s(text, md5, ws):
    """Per-document 60-bit shingle hashes (one per 3-word shingle
    occurrence, int64) — the Python twin of ``_exploded_shingle_hashes``
    for one row. None for null / sub-3-token texts (the explode's size
    guard). hashlib.md5 hex == F.md5 to the character and
    int(hex[:15], 16) == conv(substring(m,1,15),16,10)."""
    import numpy as np

    if text is None:
        return None
    toks = ws.split(text.strip(" "))
    if len(toks) < 3:
        return None
    return np.fromiter(
        (
            int(
                md5((" ".join(toks[i : i + 3])).encode("utf-8")).hexdigest()[:15],
                16,
            )
            for i in range(len(toks) - 2)
        ),
        dtype=np.int64,
    )


def _doc_h60_partials(batches):
    """Arrow-batch kernel: (doc_id, h60) with h60 DISTINCT per document
    — a document is row-atomic, so per-doc np.unique IS the global
    (doc_id, h60) distinct, with zero exchange (the JVM form paid a
    corpus explode + md5 per occurrence + a distinct/dedup aggregate
    exchange). Consumers: ngram_jaccard_pairs, novelty_profile,
    bloom_decontaminate, contamination_check."""
    import hashlib
    import re as _re

    import numpy as np
    import pandas as pd

    md5 = hashlib.md5
    ws = _re.compile(r"\s+", _re.ASCII)
    for pdf in batches:
        ids, hs = [], []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            h60s = _doc_shingle_h60s(text, md5, ws)
            if h60s is None:
                continue
            u = np.unique(h60s)
            ids.append(np.full(len(u), doc_id, dtype=np.int64))
            hs.append(u)
        if ids:
            yield pd.DataFrame(
                {"doc_id": np.concatenate(ids), "h60": np.concatenate(hs)}
            )


def doc_distinct_shingle_h60s(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, h60), h60 distinct within each document — globally
    distinct as (doc_id, h60) pairs by row atomicity. md5 family only
    (the oracle path); xxhash64 callers keep the JVM explode.

    Precondition: ``id_col`` is unique per row (one row per document).
    The dedup is per row, not a global ``.distinct()``, so two rows
    sharing a doc_id (a union, a re-read) emit their shared pairs twice
    and every per-doc count downstream is inflated, not deduped."""
    src = df.select(F.col(id_col).alias("doc_id"), "text")
    return spread(src).mapInPandas(_doc_h60_partials, _DOC_H60_SCHEMA)


# Tokenizer parity: ASCII-mode \s == the Java \s class words() splits
# on; strip(" ") == F.trim's 0x20-only trim — the SAME contract
# llm/retrieval.py's Arrow kernel pins in tests (empty/whitespace/null
# edges included).
def _prepped_partials(batches):
    """Arrow-batch kernel for ``minhash_prepped`` (md5 family): a
    document is row-atomic, so shingles, md5 prefixes, the 9 permuted
    mins AND the distinct-h60 set are all batch-local — the whole
    (doc_id, sig, jset) table computes with ZERO exchange and no
    per-shingle interpreted expression. hashlib.md5 hex == F.md5 to
    the character; int(hex[:15], 16) == conv(substring(m,1,15),16,10);
    products stay < 2^60 so int64 math is exact. Sub-3-token and null
    texts emit nothing, exactly like the explode's size guard."""
    import hashlib
    import re as _re

    import numpy as np
    import pandas as pd

    md5 = hashlib.md5
    ws = _re.compile(r"\s+", _re.ASCII)
    coeffs = MINHASH_COEFFS
    p = MINHASH_P
    for pdf in batches:
        out_id: list = []
        out_sig: list = []
        out_js: list = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            h60s = _doc_shingle_h60s(text, md5, ws)
            if h60s is None:
                continue
            h28 = h60s >> 32
            out_id.append(doc_id)
            out_sig.append([int(((h28 * a + b) % p).min()) for a, b in coeffs])
            out_js.append(np.unique(h60s))
        yield pd.DataFrame({"doc_id": out_id, "sig": out_sig, "jset": out_js})


def minhash_prepped(corpus: DataFrame, hash_family: str = "md5") -> DataFrame:
    """(doc_id, sig, jset): the 9 signature entries (min over the
    permuted 28-bit hashes) plus the 60-bit shingle set (Jaccard
    verification input) — the one corpus pass every pair-pipeline
    consumer shares (checkpointed by the callers).

    md5 family (the oracle path): ONE Arrow pass (r15) — a document is
    row-atomic, so sig and jset are batch-local and the aggregate
    exchange disappears entirely; the per-shingle md5 + permutation
    math runs in numpy/hashlib instead of per-row JVM expressions
    (guide §4.2). Values pinned identical to the JVM aggregate
    (sig exactly, jset as a set — collect_set order was never defined)
    in tests/test_llm_pipeline.py; interleaved A/B: 0.67 -> 0.45 s at
    sf0.1, 2.19 -> 0.94 s on the ×10 replica probe.

    xxhash64 family (production): Spark's codegen'd hash is not
    reproducible in Python, so the original one-aggregate JVM form
    runs — codegen'd min() + collect_set with map-side partials, one
    shuffle on doc_id."""
    if hash_family == "md5":
        return spread(corpus.select("doc_id", "text")).mapInPandas(
            _prepped_partials, _PREPPED_SCHEMA
        )
    ex = _exploded_shingle_hashes(corpus, hash_family)
    aggs = [
        F.min((F.col("h28") * a + b) % MINHASH_P).alias(f"_m{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    ]
    aggs.append(F.collect_set("h60").alias("jset"))
    return (
        ex.groupBy("doc_id")
        .agg(*aggs)
        .select(
            "doc_id",
            F.array(*[F.col(f"_m{i}") for i in range(len(MINHASH_COEFFS))]).alias("sig"),
            "jset",
        )
    )


def minhash_bands(corpus: DataFrame, hash_family: str = "md5") -> DataFrame:
    """(doc_id, band_id, band_key) — the LSH bucket table, derived from
    the codegen'd ``minhash_sigs`` aggregate (signatures only: the
    index never needs shingle sets)."""
    return minhash_sigs(corpus, hash_family).select(
        "doc_id", F.posexplode(band_keys(F.col("sig"))).alias("band_id", "band_key")
    )


def minhash_neardup_pairs(
    corpus: DataFrame, threshold: float = 0.5, hash_family: str = "md5"
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: bucketed candidates, then
    exact n-gram Jaccard verification on candidates only. Output:
    (doc_a, doc_b, jaccard) for verified pairs ≥ threshold.

    Signatures and shingle sets come from the same ``minhash_prepped``
    aggregate, MATERIALIZED once (lazy localCheckpoint) for its four
    consumers (two band sides, two verify sides). ReuseExchange cannot
    share the aggregate by itself: the band sides prune ``jset`` out of
    their aggregate while the verify sides keep it, so the four
    exchange subtrees canonicalize differently and the plan re-ran the
    whole scan→shingle→md5→aggregate chain FOUR times (r14 plan audit:
    4 Scan parquet nodes, 0 ReusedExchange). The checkpoint pins the
    (doc_id, sig, jset) aggregate output — the same bytes its shuffle
    already wrote — so the corpus pass runs once at any scale. LAZY
    (eager=False): plan build stays job-free, which the lazy-SQL-view
    registration contract requires; the first consumer's action
    materializes it. (A two-tier form — narrow sig aggregate, then a
    jset pass over candidate documents only — measured slower here:
    it adds two corpus stages.)"""
    corpus = spread(corpus)  # shingle explode is compute-bound; fan out the 1-split fixture scan
    prepped = minhash_prepped(corpus, hash_family).localCheckpoint(eager=False)
    bands = prepped.select(
        "doc_id", F.posexplode(band_keys(F.col("sig"))).alias("band_id", "band_key")
    )
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = prepped.select(F.col("doc_id").alias("doc_a"), F.col("jset").alias("sh_a"))
    sb = prepped.select(F.col("doc_id").alias("doc_b"), F.col("jset").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a", "doc_b", F.round(inter / union, 4).alias("jaccard")
        )
        .where(F.col("jaccard") >= threshold)
    )


CLUSTER_MAX_ITERS = 16


def min_label_components(pairs: DataFrame, max_iters: int = CLUSTER_MAX_ITERS) -> DataFrame:
    """(doc_id, label): connected components of an undirected pair list
    (columns ``doc_a``, ``doc_b``) by iterative min-label propagation —
    each round every vertex takes the minimum label among itself and
    its neighbors, converging in O(component diameter) rounds. Shared
    by the MinHash cluster operator and SemDeDup (both have near-clique
    duplicate components, diameter ≤ 2–3).

    The edge list is materialized ONCE (localCheckpoint): every
    propagation round joins it, and without this the lazy plan would
    re-run the whole upstream candidate pipeline per iteration. Each
    round is one vertex-keyed join + one min-aggregate, both
    hash-partitioned — no all-pairs, no global sort; the driver sees
    only a changed-label count per round (a scalar action)."""
    edges = pairs.unionByName(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    )
    # eager ON PURPOSE: the first round's count job reads edges through
    # TWO branches (l1's aggregate, l2's propagate join) — materializing
    # up front runs the upstream candidate pipeline exactly once; lazy
    # would let racing tasks re-compute it per branch before the cache
    # lands
    edges = edges.localCheckpoint(eager=True)

    def _propagate(lbl: DataFrame) -> DataFrame:
        nbr_min = (
            edges.join(
                lbl.select(
                    F.col("doc_id").alias("doc_b"), F.col("label").alias("nl")
                ),
                "doc_b",
            )
            .groupBy("doc_a")
            .agg(F.min("nl").alias("nbr_label"))
            .select(F.col("doc_a").alias("doc_id"), "nbr_label")
        )
        return lbl.join(nbr_min, "doc_id", "left").select(
            "doc_id",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
        )

    # TWO propagation rounds per materialization: convergence is
    # detected from the SECOND round alone (if applying propagation to
    # round-one's result changes nothing, round-one's result was
    # already the fixpoint), so the common near-clique case (stars of
    # copies, diameter ≤ 2) finishes with ONE checkpoint + ONE scalar
    # count instead of two of each — half the driver-side actions at
    # identical labels.
    #
    # Round 1 is special-cased (r15): propagating the IDENTITY labeling
    # needs no label table at all — every vertex appears as doc_a of
    # the bidirectional edge list, so min(label(self) ∪ label(N)) is
    # just least(doc_a, min(doc_b)) in ONE aggregate, dropping the
    # identity-distinct and its left join from the first (usually only)
    # round's DAG. Labels are identical by definition of the identity
    # start (pinned by the union-find equivalence suites).
    labels: DataFrame | None = None
    for _ in range(max(1, max_iters // 2)):
        if labels is None:
            l1 = (
                edges.groupBy("doc_a")
                .agg(F.min("doc_b").alias("_mb"))
                .select(
                    F.col("doc_a").alias("doc_id"),
                    F.least("_mb", "doc_a").alias("label"),
                )
            )
        else:
            l1 = _propagate(labels)
        l2 = _propagate(l1).withColumnRenamed("label", "l2")
        both = (
            l1.join(l2, "doc_id")
            .select(
                "doc_id",
                F.col("l2").alias("label"),
                (F.col("l2") < F.col("label")).alias("_changed"),
            )
        )
        # lazy + count: the convergence scalar's own action materializes
        # the round's labels, so each iteration is ONE job, not two
        both = both.localCheckpoint(eager=False)
        changed = both.where(F.col("_changed")).count()
        labels = both.drop("_changed")
        if changed == 0:
            break
    return labels


def star_components(pairs: DataFrame, max_iters: int = 32) -> DataFrame:
    """(doc_id, label): connected components by the ALTERNATING
    large-star/small-star algorithm (Kiveris et al. 2014, "Connected
    Components in MapReduce and Beyond" — the O(log n)-round answer
    for high-diameter graphs, vs ``min_label_components``'
    O(diameter) propagation; public reference implementations exist in
    Spark GraphX/GraphFrames). Same output contract as
    ``min_label_components`` — every vertex labeled with its
    component's minimum id — proven equivalent on clique, path, and
    fixture pair graphs in tests/test_llm_pipeline.py.

    Per round (each one vertex-keyed aggregate + one equi-join, no
    all-pairs):
    - large-star: every node u computes m = min(N(u) ∪ {u}) and
      re-points each LARGER neighbor v > u at m — long chains halve.
    - small-star: edges oriented large→small; u re-points its smaller
      neighbors and itself at its minimum neighbor — stars flatten.

    Convergence = edge-set fixpoint, detected from a (count, xor of
    row hashes) signature — one scalar action per round, the same
    driver footprint as min-label's changed-count. At fixpoint the
    edges ARE the component map (v → component min). Use this variant
    when duplicate chains can be long (transcription chains, quote
    graphs); ``min_label_components`` stays the oracle path for the
    near-clique common case (diameter ≤ 2–3, where it needs fewer
    rounds). Raises if ``max_iters`` rounds don't converge — the
    default 32 covers any graph a 64-bit id space can hold."""
    edges = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    vertices = (
        edges.select(F.col("a").alias("doc_id"))
        .unionByName(edges.select(F.col("b").alias("doc_id")))
        .distinct()
        # lazy: single consumer (the final component join) — its action
        # materializes this; eager here was one extra job (r11 sweep)
        .localCheckpoint(eager=False)
    )

    def _sig(e: DataFrame) -> tuple:
        row = (
            e.select(F.xxhash64("a", "b").alias("h"))
            .agg(F.count("*").alias("n"), F.expr("bit_xor(h)").alias("x"))
            .collect()[0]
        )
        return (row.n, row.x)

    def _large(e: DataFrame) -> DataFrame:
        s = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        m = (
            s.groupBy("a")
            .agg(F.min("b").alias("mb"))
            .select("a", F.least("a", "mb").alias("m"))
        )
        # m < every larger neighbor by construction: no self-loops.
        # NO trailing distinct: every emitted row has a > b (m < a < b
        # pre-swap), so the small-star step's reorient-distinct that
        # always follows dedupes the same rows — the distinct here was
        # a redundant exchange per round (r14: 3.46 s → 2.81 s median
        # at sf0.1 for neardup_clusters_star, labels identical).
        return (
            s.join(m, "a")
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )

    def _small(e: DataFrame) -> DataFrame:
        s = (
            e.select(
                F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
            ).distinct()
        )
        m = s.groupBy("a").agg(F.min("b").alias("m"))  # all b < a, so min ∈ N⁻
        return (
            s.join(m, "a")
            .select(F.col("b").alias("v"), "m")
            .unionByName(m.select(F.col("a").alias("v"), "m"))
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .distinct()
        )

    prev_sig = _sig(edges)
    for _ in range(max_iters):
        # lazy + signature: the round's own convergence collect
        # materializes the new edge set — ONE job per round, not two
        # (the next round's joins then read the populated cache)
        edges = _small(_large(edges)).localCheckpoint(eager=False)
        cur_sig = _sig(edges)
        if cur_sig == prev_sig:
            break
        prev_sig = cur_sig
    else:
        raise RuntimeError(f"star_components did not converge in {max_iters} rounds")
    # fixpoint edges are star edges (member -> component min); minima
    # and isolated vertices label themselves
    member = edges.groupBy("a").agg(F.min("b").alias("label")).select(
        F.col("a").alias("doc_id"), "label"
    )
    return vertices.join(member, "doc_id", "left").select(
        "doc_id", F.coalesce("label", F.col("doc_id")).alias("label")
    )


def neardup_clusters(
    corpus: DataFrame,
    threshold: float = 0.5,
    hash_family: str = "md5",
    max_iters: int = CLUSTER_MAX_ITERS,
    algorithm: str = "min_label",
) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the verified
    MinHash pair graph — the step that turns pairwise matches into the
    keep-one-per-group decision a dedup pipeline actually applies
    (keeper = min doc_id per component, the same rule dedup_exact
    uses). Output: one row per multi-document cluster
    (cluster_id = min member, n_docs, sorted member array).

    Algorithm: iterative min-label propagation — each round every
    vertex takes the minimum label among itself and its neighbors, so
    labels converge in O(component diameter) rounds (duplicate
    clusters are near-cliques in practice: a star of copies around a
    source, diameter ≤ 2–3). The loop runs Spark-side joins with a
    driver-side convergence CHECK per round (one count of changed
    labels — a scalar action, not row data) and stops at fixpoint;
    ``max_iters`` bounds pathological chains. This is the simple
    member of the map-reduce connected-components family
    (small-star/large-star, Kiveris et al. "Connected Components in
    MapReduce and Beyond" — public literature); ``algorithm="star"``
    swaps in ``star_components`` (alternating large/small-star,
    O(log n) rounds) for corpora whose duplicate chains are long —
    the component labels are identical (pytest-pinned), so both
    variants share one value oracle (`q:neardup_clusters_star`).

    Scale shape per round: one join of the (sparse) edge list against
    the label table on the vertex key plus one min-aggregate — both
    hash-partitioned on doc_id, no all-pairs, no global sort. The
    DuckDB oracle computes the same components via a recursive CTE, so
    the value hash verifies the transitive closure exactly."""
    pairs = minhash_neardup_pairs(corpus, threshold, hash_family).select(
        "doc_a", "doc_b"
    )
    components = star_components if algorithm == "star" else min_label_components
    labels = components(pairs, max_iters)
    return (
        labels.groupBy("label")
        .agg(
            F.count("*").alias("n_docs"),
            # JSON-serialize the member list: downstream comparators
            # (and the driver's pandas canonicalizer) can't hash raw
            # array cells — same contract as collect_list_nest
            F.to_json(F.array_sort(F.collect_list("doc_id"))).alias("doc_ids"),
        )
        .where(F.col("n_docs") > 1)
        .select(F.col("label").alias("cluster_id"), "n_docs", "doc_ids")
    )


def ngram_jaccard_pairs(corpus: DataFrame, mod: int = 50) -> DataFrame:
    """Exact n-gram Jaccard over an explicit (bounded) candidate set —
    the verification primitive on its own, for callers that bring their
    own candidate generator. Here candidates are id-bucketed (doc_id %
    mod) so the join stays bounded; production candidates come from the
    banded LSH join in ``minhash_neardup_pairs``.

    Set algebra as codegen'd joins instead of per-pair array ops:
    |A∩B| = count of equal-hash matches in an exploded hash join,
    |A∪B| = |A| + |B| − |A∩B| from per-doc set sizes. Per-pair
    array_intersect/array_union evaluates interpreted and carries the
    full arrays through the pair shuffle; this formulation shuffles
    8-byte hashes once and aggregates map-side — same jaccard values
    to the digit (set cardinalities are order- and
    multiplicity-independent)."""
    corpus = spread(corpus)  # shingle explode is compute-bound; fan out the 1-split fixture scan
    # hs feeds FOUR subtrees (sizes twice via the a/b aliases, plus the
    # ha/hb sides of the intersection join) and the column renames
    # break ReuseExchange (measured: 4 scans, 0 reused exchanges), so
    # without a cut the shingle explode + distinct runs four times.
    # LAZY localCheckpoint (eager=False): evaluated once at the first
    # action, reused by all consumers — and plan BUILD stays job-free,
    # which the lazy-SQL-view registration contract requires. Cluster
    # trade-off: localCheckpoint partitions are executor-local (no
    # recompute path on executor loss) — see the fuller note in
    # webgraph.pagerank_rank; prefer checkpoint() under executor churn.
    # r15 tried-and-REVERTED: sourcing hs from the Arrow kernel
    # (doc_distinct_shingle_h60s) measured FLAT at sf0.1 (1.25 s both)
    # and 1.5x SLOWER at the ×10 probe (10.6 → 16.1 s) — unlike the
    # bloom/contamination probes, this stream is checkpointed and only
    # its distinct exchange was removable, and shipping the ~2.5 M-row
    # stream through Arrow into the cache lost to the codegen explode.
    hs = (
        _exploded_shingle_hashes(corpus)
        .select("doc_id", (F.col("doc_id") % mod).alias("bucket"), "h60")
        .distinct()
        .localCheckpoint(eager=False)
    )
    sizes = hs.groupBy("doc_id", "bucket").agg(F.count("*").alias("n"))
    a = sizes.alias("a")
    b = sizes.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        (F.col("a.n") + F.col("b.n")).alias("n_sum"),
    )
    ha = hs.select(F.col("doc_id").alias("doc_a"), "bucket", "h60")
    hb = hs.select(F.col("doc_id").alias("doc_b"), F.col("bucket").alias("bucket_b"), F.col("h60").alias("h60_b"))
    inter = (
        ha.join(
            hb,
            (F.col("bucket") == F.col("bucket_b"))
            & (F.col("h60") == F.col("h60_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    joined = pairs.join(inter, ["doc_a", "doc_b"], "left").select(
        "doc_a",
        "doc_b",
        F.coalesce(F.col("n_inter"), F.lit(0)).alias("n_inter"),
        "n_sum",
    )
    return joined.select(
        "doc_a",
        "doc_b",
        F.round(F.col("n_inter") / (F.col("n_sum") - F.col("n_inter")), 4).alias("jaccard"),
    )


def _simhash_partials_factory(bits: int):
    """Arrow-batch kernel for ``simhash``: the fingerprint is
    row-atomic (per-doc bit votes over the doc's own tokens), so the
    whole (doc_id, simhash) table computes with ZERO exchange — the
    JVM packed-vote aggregate's doc_id shuffle and the per-token md5
    expression are both gone. hashlib.md5 hex == F.md5 to the
    character; int(hex[:4],16) == conv(substring(m,1,4),16,10); the
    2·cnt ≥ n tie rule is the same integer comparison. Null-text docs
    emit nothing (explode-of-null contract); empty text votes on the
    single '' token exactly like the JVM form."""

    def run(batches):
        import hashlib
        import re as _re

        import numpy as np
        import pandas as pd

        md5 = hashlib.md5
        ws = _re.compile(r"\s+", _re.ASCII)
        arange = np.arange(bits, dtype=np.int64)
        for pdf in batches:
            ids, fps = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue
                toks = ws.split(text.strip(" "))
                hs = np.fromiter(
                    (
                        int(md5(t.encode("utf-8")).hexdigest()[:4], 16)
                        for t in toks
                    ),
                    dtype=np.int64,
                )
                cnts = ((hs[:, None] >> arange) & 1).sum(axis=0)
                fp = int(
                    (((2 * cnts >= len(hs)).astype(np.int64)) << arange).sum()
                )
                ids.append(doc_id)
                fps.append(fp)
            yield pd.DataFrame({"doc_id": ids, "simhash": fps})

    return run


def simhash(corpus: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash fingerprint: md5-derived ``bits``-bit hash per token,
    per-bit majority vote over all tokens (duplicates weighted), sign →
    bit. Documents with equal fingerprints are near-dup candidates via
    a plain groupBy — no pairwise work at all.

    ONE Arrow pass (r15): the fingerprint is row-atomic, so the doc_id
    vote aggregate (and its exchange) is not fundamental — see
    ``_simhash_partials_factory``. Pinned value-identical to the JVM
    packed-vote aggregate (r14's 2.4× form, reconstructed verbatim) in
    tests/test_llm_pipeline.py::test_simhash_arrow_matches_jvm_vote;
    interleaved A/B: 0.88 -> 0.47 s at sf0.1 (−47%), 1.17 -> 0.79 s
    at the ×10 probe (−33%)."""
    from ad_data_lake_spark.sources.tables import spread

    return spread(corpus.select("doc_id", "text")).mapInPandas(
        _simhash_partials_factory(bits), "doc_id long, simhash long"
    )


def _simhash_jvm(corpus: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """The packed-vote JVM aggregate (the r14 form) — kept as the
    equivalence reference for the Arrow kernel's pin test. The vote is
    PACKED: the per-bit ±1 sum is equivalent to comparing 2×(count of
    tokens with bit b set) against the token count, and bit-counts are
    non-negative, so three of them ride in disjoint 20-bit fields of
    ONE bigint sum; integer sums are order-independent, so the
    fingerprint is exactly the per-row array formulation's value."""
    from ad_data_lake_spark.sources.tables import spread

    # a 20-bit field saturates only past 2^20-1 (~1M) tokens in one
    # document — far beyond any sanely-chunked input (chunk first: L25)
    field_bits, pack = 20, 3

    toks = spread(corpus).select(
        "doc_id", F.explode(words(F.col("text"))).alias("tok")
    )
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 4), 16, 10).cast("long")
    hashed = toks.select("doc_id", h.alias("h"))
    n_longs = -(-bits // pack)
    aggs = [F.count("*").alias("_n")]
    for g in range(n_longs):
        packed = None
        for i in range(pack):
            b = g * pack + i
            if b >= bits:
                break
            term = F.when(
                F.col("h").bitwiseAND(F.lit(1 << b)) != 0,
                F.lit(1 << (field_bits * i)),
            ).otherwise(F.lit(0))
            packed = term if packed is None else packed + term
        aggs.append(F.sum(packed).alias(f"_p{g}"))
    grouped = hashed.groupBy("doc_id").agg(*aggs)
    mask = (1 << field_bits) - 1
    fingerprint = None
    for g in range(n_longs):
        for i in range(pack):
            b = g * pack + i
            if b >= bits:
                break
            cnt = F.shiftrightunsigned(
                F.col(f"_p{g}"), field_bits * i
            ).bitwiseAND(F.lit(mask))
            # vote_b = 2*cnt - n; >= 0 keeps the original tie rule
            term = F.when(2 * cnt >= F.col("_n"), F.lit(1 << b)).otherwise(F.lit(0))
            fingerprint = term if fingerprint is None else fingerprint + term
    return grouped.select("doc_id", fingerprint.cast("long").alias("simhash"))


def simhash_groups(corpus: DataFrame) -> DataFrame:
    """Near-dup groups = documents sharing a SimHash fingerprint."""
    return (
        simhash(corpus)
        .groupBy("simhash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_docs"))
        .where(F.col("n_docs") > 1)
    )


INDEX_BATCH_MOD = 10


def minhash_index_probe(index: DataFrame, new_bands: DataFrame) -> DataFrame:
    """Candidate pairs between a NEW document batch and the persisted
    band index: the batch's bands join the index on (band_id,
    band_key) — old documents are never re-shingled, never re-hashed.
    This is the maintenance shape that makes LSH dedup viable at
    100 TB: per-batch cost is O(batch) signature compute + one join
    against the (bucketed) index, not O(corpus)."""
    n = new_bands.alias("n")
    i = index.alias("i")
    return (
        n.join(i, ["band_id", "band_key"])
        .where(F.col("n.doc_id") != F.col("i.doc_id"))
        .select(
            F.col("i.doc_id").alias("doc_a"), F.col("n.doc_id").alias("doc_b")
        )
        .distinct()
    )


def minhash_index_incremental(spark, sf_dir: str) -> DataFrame:
    """Incremental LSH index maintenance, exercised end-to-end: build
    the persisted band index from the base corpus (doc_id %
    INDEX_BATCH_MOD != 0), then APPEND the remaining batch's bands —
    computing signatures only for the batch. Returns the final index
    state; the DuckDB oracle recomputes the same table from scratch
    over ALL documents, so a hash match proves incremental append ≡
    full rebuild (the invariant that lets a production pipeline index
    each day's documents without touching history).

    At scale the index is written bucketed by band_key (layout.py Y1)
    so the probe join is co-located; the scratch layout here is plain
    parquet for the fixture."""
    from ad_data_lake_spark.scratch import scratch_dir
    from ad_data_lake_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    path = scratch_dir(spark, "minhash-index", sf_dir)

    base = docs.where(F.col("doc_id") % INDEX_BATCH_MOD != 0)
    batch = docs.where(F.col("doc_id") % INDEX_BATCH_MOD == 0)
    minhash_bands(base).write.parquet(path)
    minhash_bands(batch).write.mode("append").parquet(path)
    return spark.read.parquet(path)


def dedup_keep_best(
    corpus: DataFrame,
    threshold: float = 0.5,
    hash_family: str = "md5",
    max_iters: int = CLUSTER_MAX_ITERS,
) -> DataFrame:
    """Quality-canonical dedup: within each near-duplicate cluster,
    keep the HIGHEST-QUALITY member instead of the arbitrary min-id —
    the policy real curation pipelines apply (the canonical copy of a
    scraped page is the longest / cleanest variant, not the first one
    crawled). Output: one row per multi-document cluster with the
    keeper, its quality score, and the sorted dropped ids.

    Ranking is the composite quality score (text.quality_columns) with
    deterministic tie-breaks (n_tokens desc, doc_id asc) — the score is
    a sum of banded constants, so ties are common and the tie-break is
    part of the contract (mirrored exactly in the DuckDB oracle).

    Scale shape: the cluster labels table contains only documents that
    appear in a verified pair (a small fraction of the corpus), so the
    label↔score join is sparse-side; quality columns are a pure
    projection computed in the same pass as the corpus scan. The
    row_number window and the final groupBy both hash-partition on the
    cluster label, so AQE coalesces them onto one exchange. No
    all-pairs, no text in any shuffle."""
    pairs = minhash_neardup_pairs(corpus, threshold, hash_family).select(
        "doc_a", "doc_b"
    )
    labels = min_label_components(pairs, max_iters)
    qc = quality_columns(F.col("text"))
    scored = corpus.select(
        "doc_id",
        qc["quality_score"].alias("q"),
        qc["n_tokens"].alias("n_tokens"),
    )
    members = labels.join(scored, "doc_id")
    w = Window.partitionBy("label").orderBy(
        F.col("q").desc(), F.col("n_tokens").desc(), F.col("doc_id").asc()
    )
    ranked = members.withColumn("rk", F.row_number().over(w))
    return (
        ranked.groupBy("label")
        .agg(
            F.count("*").alias("n_docs"),
            F.max(F.when(F.col("rk") == 1, F.col("doc_id"))).alias("keeper_id"),
            F.max(F.when(F.col("rk") == 1, F.col("q"))).alias("keeper_score"),
            # JSON-serialize like neardup_clusters: array cells don't hash
            F.to_json(
                F.array_sort(F.collect_list(F.when(F.col("rk") > 1, F.col("doc_id"))))
            ).alias("dropped_ids"),
        )
        .where(F.col("n_docs") > 1)
        .select(
            F.col("label").alias("cluster_id"),
            "n_docs",
            "keeper_id",
            "keeper_score",
            "dropped_ids",
        )
    )


def novelty_profile(corpus: DataFrame, hash_family: str = "md5") -> DataFrame:
    """Per-document novelty: the fraction of a document's (distinct)
    shingles whose FIRST owner (min doc_id) is the document itself —
    the data-curation signal for 'how much of this doc is new text vs
    re-used boilerplate/quotation' (high-novelty docs are kept first
    when packing a training mix; near-zero novelty flags mirrors and
    templates that per-pair dedup misses).

    Skew-proof shape (r15; the r14 form held each hash's member set in
    ONE collect_set cell, so a corpus-wide boilerplate shingle at
    100 TB concentrated ~every doc_id into a single aggregate cell —
    an executor OOM AQE cannot split, aggregates having no skew
    handling): no membership set is ever built. The key identity is
    that ``n_novel(doc) = |{h : min-owner(h) = doc}|`` — a COUNT over
    the per-hash min-owner table, no membership join needed. Three
    hash exchanges, none carrying text, every cell a mergeable scalar:

    1. distinct (h60, doc_id) — keyed by the PAIR, so a hot shingle
       spreads over all partitions (checkpointed: two consumers prune
       different columns, which defeats ReuseExchange — the r14
       lesson);
    2. min(doc_id) per h60 — map-side partial min, one scalar per
       cell: the hot shingle ships ≤ one 16 B row per map partition;
    3. the per-doc count aggregate over the union of (pair rows →
       n_shingles) and (owner rows → n_novel) — map-side partial sums.

    The 60-bit md5-prefix hash keys the shuffle (20 B/row) and is
    reproduced bit-for-bit by the DuckDB oracle; pass
    ``hash_family="xxhash64"`` for the cheaper production family.
    Documents with fewer than 3 words have no shingles and are
    excluded (mirrored by the oracle).

    Precondition (md5 family): ``doc_id`` is unique per row. The
    (h60, doc_id) distinct of step 1 comes from a per-row kernel
    (:func:`doc_distinct_shingle_h60s`), so a doc_id on two rows counts
    its shared shingles twice in ``n_shingles`` and ``n_novel``."""
    if hash_family == "md5":
        # Arrow kernel: per-doc np.unique IS the (h60, doc_id) distinct
        # (row atomicity), zero exchange — see doc_distinct_shingle_h60s
        d = doc_distinct_shingle_h60s(corpus).localCheckpoint(eager=False)
    else:
        d = (
            _exploded_shingle_hashes(corpus, hash_family)
            .select("h60", "doc_id")
            .distinct()
            .localCheckpoint(eager=False)
        )
    owners = d.groupBy("h60").agg(F.min("doc_id").alias("first_doc"))
    contrib = d.select(
        "doc_id", F.lit(1).alias("_s"), F.lit(0).alias("_v")
    ).unionByName(
        owners.select(
            F.col("first_doc").alias("doc_id"),
            F.lit(0).alias("_s"),
            F.lit(1).alias("_v"),
        )
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            # sum(int) is BIGINT in Spark, matching the oracle's count
            # FILTER (DuckDB sum(int) would be HUGEINT on ITS side; the
            # oracle keeps count FILTER, unchanged)
            F.sum("_s").alias("n_shingles"),
            F.sum("_v").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_shingles"), 4).alias("novelty_ratio"),
        )
    )
