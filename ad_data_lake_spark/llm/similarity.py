"""Embedding similarity search over the ``embeddings`` fixture
(``vec_id``, 64-dim float ``embedding``, ``label``).

Operators:
- brute-force cosine top-k — the exactness baseline: broadcast the
  (small) query set against every vector; correct at any scale but
  O(n·q), so it's the yardstick, not the production path;
- IVF top-k — spherical-k-means coarse quantizer (trained in-plan,
  6-dp-rounded so the oracle reproduces it); the probe scores only the
  query's ``nprobe`` nearest cells, and on a cell-partitioned lake the
  cell predicate prunes partitions; ``ivf_assign`` is the incremental
  index-maintenance primitive (new vectors vs frozen centroids);
- hyperplane-LSH bucketed top-k — sign-of-projection bits onto fixed
  ±1 hyperplanes form the bucket key; probing joins on the bucket;
- cosine near-dup pairs — within-bucket pairs above a threshold
  (embedding-space analogue of MinHash near-dup).

Numeric design: bucketing (LSH bit signs, cell keys) and per-vector
norms stay JVM-side with sequential double accumulation, so bucket
membership is bit-identical to the DuckDB oracle. Pair SCORING — the
O(pairs × dim) part — runs as Arrow-batched numpy (pandas_udf /
applyInPandas): vectorized dot products beat interpreted
``zip_with``+``aggregate`` lambdas by ~30× and similarities are
rounded to 6 dp before ranking/thresholding, far above blas-vs-
sequential summation noise (~1e-15), so cross-engine values agree.

Scale notes (100 TB): the brute-force form broadcasts queries and
never shuffles the vector table; the bucketed forms shuffle only on
(cell/bucket) keys whose cardinality the caller controls, and the
near-dup matmul ships each vector over Arrow once per cell — O(n),
never O(pairs). Ranking windows partition on query_id (small ×
bounded candidates), never globally.
"""

from __future__ import annotations

import hashlib
import math
import os

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

N_PLANES = 8
DIM = 64
NEAR_OFFSET = 1_000_000
NEAR_MOD = 9
# Vectors are unit-norm; +0.01 per component keeps cosine ≈ 0.997 —
# comfortably above the 0.95 near-dup bar, far above random-pair max.
PERTURB = 0.01


def as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Dot product via zip_with + left-fold aggregate — sequential
    double accumulation (same order DuckDB uses, so oracle values agree
    to well under the 6-dp rounding)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def hyperplanes(
    n_planes: int = N_PLANES, dim: int = DIM, table: int = 0
) -> list[list[float]]:
    """Deterministic ±1 hyperplanes derived from md5(j:d) parity — a
    fixed pseudo-random basis both engines can restate as literals.
    ``table`` offsets the seed so multi-table LSH gets independent
    plane sets; table 0 is the original (oracle-checked) basis."""
    planes = []
    for j in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{table * n_planes + j}:{d}".encode()).hexdigest()
            row.append(float((int(h[:2], 16) % 2) * 2 - 1))
        planes.append(row)
    return planes


# DataType instance, not a DDL string: string return types are parsed
# through the JVM, which would make this module unimportable before a
# SparkSession exists.
@pandas_udf(DoubleType())
def cosine6_pd(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-vectorized cosine, rounded to 6 dp: one numpy batch per
    Arrow chunk, no per-row Python. The 6-dp round absorbs the
    ~1e-15 summation-order difference vs the oracle's sequential
    fold."""
    A = np.vstack(a.to_numpy())
    B = np.vstack(b.to_numpy())
    sims = np.einsum("ij,ij->i", A, B) / (
        np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
    )
    return pd.Series(np.round(sims, 6))


def _ranked(pairs: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def topk_bruteforce(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    query_pred: Column | None = None,
) -> DataFrame:
    """Exact cosine top-k: the query set (bounded by the call
    contract, like the IVF training sample) broadcasts as numpy
    arrays; ONE Arrow pass scores each corpus batch against all
    queries with a single BLAS matmul and emits only the batch-local
    top-k under the global (sim desc, vec_id asc) order — any global
    top-k row is top-k in its own batch, so the final window ranks
    n_batches·q·k candidate rows, never the corpus. ``query_pred``
    overrides the default query-set predicate so the approximate
    indexes can be recall-scored against the exact answer for the SAME
    queries (llm/evaluation.py).

    This is the same shape as ``topk_int8``/``topk_ivf`` — the
    original per-pair JVM fold (broadcast cross join + interpreted
    64-term dot per pair) measured ~3 s for 45k pairs at sf3 inside
    the hybrid/MMR composites; the batch matmul amortizes to
    milliseconds. Scores round to 6 dp before ranking, the same
    contract every cosine row here carries."""
    pred = query_pred if query_pred is not None else F.col("vec_id") < n_queries
    qrows = embeddings.where(pred).select("vec_id", "embedding").collect()
    if not qrows:
        empty = "query_id long, vec_id long, cosine_sim double, rank int"
        return embeddings.sparkSession.createDataFrame([], empty)
    q_ids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    Q = np.vstack([r["embedding"] for r in qrows]).astype(np.float64)
    Qn = np.linalg.norm(Q, axis=1)

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            C = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            sims = np.round(
                (C @ Q.T) / (np.linalg.norm(C, axis=1)[:, None] * Qn), 6
            )
            out_q, out_v, out_s = [], [], []
            for j in range(len(q_ids)):
                col = sims[:, j]
                mask = ids != q_ids[j]
                cand_ids, cands = ids[mask], col[mask]
                order = np.lexsort((cand_ids, -cands))[:k]
                out_q.append(np.full(len(order), q_ids[j]))
                out_v.append(cand_ids[order])
                out_s.append(cands[order])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "vec_id": np.concatenate(out_v),
                    "cosine_sim": np.concatenate(out_s),
                }
            )

    cand = embeddings.mapInPandas(
        score, "query_id long, vec_id long, cosine_sim double"
    )
    return _ranked(cand, k).select("query_id", "vec_id", "cosine_sim", "rank")


INT8_EPS = 1e-12  # zero-vector guard for the quantization scale


def _quantize_int8_np(V):
    """numpy twin of the int8 quantization, ops ordered EXACTLY as the
    SQL oracle (abs-max, /127.0, greatest vs eps, round half-away-from-
    zero — np.round is half-even, so the away tie-break is built from
    trunc+copysign). Codes are integer-valued float64: every downstream
    BLAS dot is a sum of ≤ dim·127² integer terms — exact, engine- and
    order-independent."""
    V = V.astype(np.float64, copy=False)
    sc = np.maximum(np.abs(V).max(axis=1) / 127.0, INT8_EPS)
    R = V / sc[:, None]
    return np.trunc(R + np.copysign(0.5, R))


def topk_int8(embeddings: DataFrame, n_queries: int = 5, k: int = 10) -> DataFrame:
    """Cosine top-k over int8-QUANTIZED vectors — the quantized twin of
    ``topk_bruteforce``. Per-vector scales cancel inside cosine, so the
    score is a pure integer-array cosine of the codes: integer dots are
    EXACT in both engines by construction, and the 6-dp round absorbs
    the final sqrt/division ulps (same contract as the float row).

    Scale story (the point of quantizing): codes store at 1 byte/dim +
    one float scale — 4-8× less footprint and scan bandwidth than raw
    floats, which is what makes billion-vector brute-force feasible.
    Compute shape: one Arrow pass over the corpus (mapInPandas), each
    batch quantized and scored against the broadcast query codes with
    one BLAS matmul, emitting only the batch-local top-k under the
    global (sim desc, vec_id asc) order — any global top-k row is
    top-k in its own batch, so the final window ranks n_batches·q·k
    candidate rows, never the corpus. (The per-pair higher-order-
    function form measured 15.8× DuckDB at sf0.1 — interpreted lambda
    cost, the exact trap topk_ivf hit — vs well under 2× for this
    shape.) The ≤ n_queries driver collect is bounded by the call
    contract, like the IVF training sample.

    Quantization ERROR is measured, not hidden (tests/REPORT.md):
    recall@10 1.0 / recall@5 0.96 vs the exact float top-k at sf0.001,
    planted +0.01 twins stay rank 1, max per-pair cosine drift 3e-3."""
    qrows = (
        embeddings.where(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    )
    if not qrows:
        empty = "query_id long, vec_id long, cosine_sim double, rank int"
        return embeddings.sparkSession.createDataFrame([], empty)
    q_ids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    Q = _quantize_int8_np(np.vstack([r["embedding"] for r in qrows]))
    # eps floor: a zero vector has undefined cosine — score it 0.0
    # rather than NaN (codes are all-zero via the quantizer's eps, so
    # only exact-zero rows hit this; fixture norms are all > 1)
    Qn = np.maximum(np.sqrt(np.einsum("ij,ij->i", Q, Q)), INT8_EPS)

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            C = _quantize_int8_np(np.vstack(pdf["embedding"].to_numpy()))
            sims = np.round(
                (C @ Q.T)
                / (np.maximum(np.sqrt(np.einsum("ij,ij->i", C, C)), INT8_EPS)[:, None] * Qn),
                6,
            )
            out_q, out_v, out_s = [], [], []
            for j in range(len(q_ids)):
                col = sims[:, j]
                mask = ids != q_ids[j]
                cand_ids, cands = ids[mask], col[mask]
                # batch-local top-k under the GLOBAL order (sim desc,
                # vec_id asc) — lexsort keys are (vec_id, -sim)
                order = np.lexsort((cand_ids, -cands))[:k]
                out_q.append(np.full(len(order), q_ids[j]))
                out_v.append(cand_ids[order])
                out_s.append(cands[order])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "vec_id": np.concatenate(out_v),
                    "cosine_sim": np.concatenate(out_s),
                }
            )

    cand = embeddings.mapInPandas(
        score, "query_id long, vec_id long, cosine_sim double"
    )
    return _ranked(cand, k).select("query_id", "vec_id", "cosine_sim", "rank")


IVF_CELLS = 8
# 2 Lloyd iterations: recall@5 measured identical to 3 at sf0.01 AND
# sf0.1 (the quantizer converges immediately on the isotropic fixture);
# each dropped iteration saves ~4 scheduled stages of fixture-scale
# overhead. Raise for clustered real-world corpora.
IVF_ITERS = 2
IVF_NPROBE = 2
# Hard ceiling on the coarse-quantizer training collect: no call path
# may materialize more than this many vectors on the driver, whatever
# frame it is handed (the faiss contract, ENFORCED rather than
# documented). 100k × 128-dim float64 ≈ 100 MB — bounded by
# construction regardless of corpus size.
IVF_TRAIN_MAX = 100_000


def ivf_cells_for(n_vectors: int, min_cells: int = IVF_CELLS) -> int:
    """Scale rule for the cell count: ~√n, rounded to a power of two,
    floored at the fixture default. With cells ≈ √n the per-cell
    candidate lists stay ≈ √n too, so the grouped-matmul scoring
    (``cosine_neardup_pairs``-style applyInPandas keyed on cell) never
    concentrates the corpus into a handful of giant groups — the skew
    failure a fixed C=8 hits as soon as n ≫ C². Pass the corpus count
    (or a cheap estimate) here whenever the table isn't fixture-sized;
    ``topk_ivf(..., n_cells=None)`` does exactly that."""
    if n_vectors <= 0:
        return min_cells
    target = math.isqrt(n_vectors)
    return max(min_cells, 1 << max(0, round(math.log2(max(1, target)))))


@pandas_udf(ArrayType(DoubleType()))
def _unit_pd(v: pd.Series) -> pd.Series:
    """Arrow-vectorized L2 normalize — one numpy batch per chunk. The
    ~1e-16 pairwise-vs-sequential norm difference propagates to ≤1e-15
    in any downstream dot product, absorbed by the 6-dp score rounding
    every consumer applies (the ``cosine6_pd`` contract)."""
    if len(v) == 0:
        return pd.Series([], dtype=object)
    V = np.vstack(v.to_numpy())
    U = V / np.linalg.norm(V, axis=1, keepdims=True)
    return pd.Series(list(U))


def unit_vectors(embeddings: DataFrame) -> DataFrame:
    """(vec_id, u) with u = embedding / ||embedding|| as doubles.
    Arrow-vectorized: the higher-order-function form (transform with a
    division lambda) evaluates interpreted at ~0.7 s per corpus pass at
    sf0.1 and is re-paid by every stage that consumes u — the numpy
    batch is ~100× cheaper and every consumer rounds scores to 6 dp,
    which absorbs the summation-order noise (see ``_unit_pd``)."""
    v = as_double(F.col("embedding"))
    return embeddings.select("vec_id", _unit_pd(v).alias("u"))


Centroids = list[tuple[int, list[float]]]


def _vec_lit(c: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in c])


def _cell_scores(u: Column, cents: Centroids) -> Column:
    """array<struct<s,nc>> of (rounded cosine to centroid, -cell) over
    the DRIVER-SIDE centroid list — 6-dp rounding + lowest-cell
    tie-break keep assignment bit-identical to the DuckDB oracle.

    Built as one plain struct expression per centroid (the list is
    bounded: n_cells × dim doubles, the object every k-means trainer
    holds on the driver), so the vector attribute ``u`` appears only
    as a DIRECT child of the dot-product fold — never inside a lambda
    body. That constraint is load-bearing: Catalyst's self-join
    attribute de-duplication fails to rewrite references captured in
    lambda bodies (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND at bind time
    when the assigned and query branches of topk_ivf rejoin), and a
    literal list also truncates trainer lineage with no cache entry to
    leak (the former one-row-frame form persisted each Lloyd state).
    Past ~O(100) cells the expression tree stops being the right
    carrier — store centroids in a table and broadcast-join instead.

    This JVM form scores the (small) probe side; full-corpus
    assignment uses the Arrow-vectorized ``_unit_and_cell_pd``."""
    return F.array(
        *[
            F.struct(
                F.round(dot(u, _vec_lit(c)), 6).alias("s"),
                F.lit(-int(cell)).cast("bigint").alias("nc"),
            )
            for cell, c in cents
        ]
    )


def _unit_and_cell_pd(cents: Centroids):
    """Fused Arrow-vectorized normalize + nearest-centroid assign in
    ONE Python round trip (a separate normalize UDF → assign UDF chain
    would plan two ArrowEval nodes and ship the vectors to a worker
    twice per corpus pass). One numpy matmul per batch against the
    driver-side centroid matrix; argmax keeps the round-to-6dp +
    lowest-cell tie rule of ``_cell_scores`` (cells ascend,
    ``np.argmax`` returns the first maximum), and the 6-dp round
    absorbs BLAS-vs-sequential-fold summation noise — the same
    contract ``lsh_bucket_udf`` runs under. The interpreted JVM fold
    costs ~0.1 ms/vector·8 cells; a vectorized batch ~1 µs."""
    C = np.array([c for _, c in cents], dtype=np.float64).T
    cells = np.array([cell for cell, _ in cents], dtype=np.int64)
    out_type = StructType(
        [
            StructField("u", ArrayType(DoubleType())),
            StructField("cell", LongType()),
        ]
    )

    @pandas_udf(out_type)
    def unit_cell(v: pd.Series) -> pd.DataFrame:
        if len(v) == 0:
            return pd.DataFrame({"u": [], "cell": []})
        V = np.vstack(v.to_numpy())
        U = V / np.linalg.norm(V, axis=1, keepdims=True)
        scores = np.round(U @ C, 6)
        return pd.DataFrame(
            {"u": list(U), "cell": cells[np.argmax(scores, axis=1)]}
        )

    return unit_cell


def ivf_centroids(
    embeddings: DataFrame, n_cells: int | None = None, iters: int = IVF_ITERS
) -> Centroids:
    """Spherical k-means coarse quantizer, trained IN-MEMORY on the
    driver over the passed training set — the faiss contract: a coarse
    quantizer trains on a bounded SAMPLE (O(100k) vectors regardless of
    corpus size; at 100 TB pass a deterministic sample such as
    ``embeddings.where(col('vec_id') % s == 0)``), so training is one
    bounded collect + a numpy Lloyd loop, not a Spark job per
    iteration. The contract is enforced, not just documented: the
    collect goes through ``limit(IVF_TRAIN_MAX)``, so handing this the
    full-scale table trains on an arbitrary-but-bounded 100k-vector
    prefix instead of driving an unbounded driver collect (pass your
    own sample when you care WHICH vectors train the quantizer; below
    the cap — every fixture — the limit is a no-op and centroids are
    unchanged). The former in-plan trainer ran assignment + re-center +
    collect per Lloyd round — 3+ sub-second jobs whose scheduling floor
    dominated every IVF query while touching the same few thousand
    sampled vectors a single batch holds trivially. Only ASSIGNMENT
    (the corpus-sized pass) stays distributed (``_unit_and_cell_pd``).

    Init = the training vectors with vec_id < ``n_cells``
    (deterministic random-init: fixture ids are hash-ordered); each
    Lloyd iteration assigns every unit vector to its nearest centroid
    (argmax of 6-dp-rounded cosine, ties to the lowest cell) and
    re-centers as the renormalized elementwise mean, rounded to 6 dp —
    the same arithmetic contract the previous distributed trainer and
    the DuckDB oracle's unrolled SQL loop follow, so the trained
    centroids are identical to the digit (empty cells drop, matching
    the oracle's GROUP BY)."""
    rows = (
        embeddings.select("vec_id", as_double(F.col("embedding")).alias("v"))
        .limit(IVF_TRAIN_MAX)
        .collect()
    )
    if n_cells is None:  # default: √n scale rule over the training set
        n_cells = ivf_cells_for(len(rows))
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    V = np.array([r.v for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    ids, V = ids[order], V[order]
    U = V / np.linalg.norm(V, axis=1, keepdims=True)
    init = ids < n_cells
    cells, C = ids[init], np.round(U[init], 6)
    for _ in range(iters):
        scores = np.round(U @ C.T, 6)
        assign = cells[np.argmax(scores, axis=1)]  # first max = lowest cell
        kept: list[tuple[int, np.ndarray]] = []
        for cell in cells:
            members = U[assign == cell]
            if len(members) == 0:
                continue  # empty cell drops, as in the oracle's GROUP BY
            m = members.mean(axis=0)
            kept.append((int(cell), np.round(m / np.linalg.norm(m), 6)))
        cells = np.array([c for c, _ in kept], dtype=np.int64)
        C = np.array([m for _, m in kept])
    return [(int(c), [float(x) for x in m]) for c, m in zip(cells, C)]


def topk_ivf(
    embeddings: DataFrame,
    query_mod: int = 97,
    k: int = 5,
    n_cells: int | None = None,
    iters: int = IVF_ITERS,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """IVF top-k over a spherical-k-means coarse quantizer: every
    vector lands in its nearest centroid's cell; a query probes its
    ``nprobe`` nearest cells and scores only those candidates —
    candidate volume drops to ~nprobe/n_cells of the corpus, and a
    cell-partitioned lake prunes whole partitions before the scan.
    (The fixture's ``label`` column is NOT a usable cell key: it is
    uncorrelated with proximity — measured 6.7% recall@5 vs 67% for
    this quantizer at the same scan fraction, llm/evaluation.py.)

    Plan shape: centroid training (bounded, see ``ivf_centroids``) +
    one zero-shuffle assignment projection + a broadcast hash join on
    the cell key + a per-query ranking window — the corpus is never
    shuffled and never self-joined.

    ``n_cells=None`` — the DEFAULT — derives the cell count from the
    corpus size via ``ivf_cells_for`` (√n rule), so per-cell work stays
    balanced as the table grows with no knob to trip over. Pass an
    explicit count only where a FIXED geometry is part of a contract:
    the oracle-checked registry query pins ``IVF_CELLS`` because its
    DuckDB twin unrolls training at C=8 in static SQL."""
    if n_cells is None:
        n_cells = ivf_cells_for(embeddings.count())
    u = unit_vectors(embeddings)
    cents = ivf_centroids(embeddings, n_cells, iters)
    # Fused Arrow normalize+assign (one Python round trip); as a bonus
    # the ArrowEvalPython node is a pushdown barrier, so the join's
    # inferred isnotnull(cell) predicate cannot substitute the scoring
    # into the scan's DataFilters (with the JVM expression form that
    # re-evaluation measured 7.1 s vs 0.9 s at sf0.1 for the pairs
    # stage).
    assigned = embeddings.select(
        "vec_id", _unit_and_cell_pd(cents)(as_double(F.col("embedding"))).alias("uc")
    ).select("vec_id", F.col("uc.cell").alias("cell"), F.col("uc.u").alias("u"))
    # top-nprobe probe cells per query: sort the (small, per-row) score
    # array — struct(-s, cell) ascending == cosine desc, cell asc — and
    # explode the head; no window, no shuffle.
    probe_cells = F.slice(
        F.array_sort(
            F.transform(
                _cell_scores(F.col("u"), cents),
                lambda sc: F.struct((-sc["s"]).alias("ns"), (-sc["nc"]).alias("cell")),
            )
        ),
        1,
        nprobe,
    )
    q = (
        u.where(F.col("vec_id") % query_mod == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("u").alias("qu"),
            F.explode(probe_cells).alias("pc"),
        )
        .select("query_id", "qu", F.col("pc.cell").alias("cell"))
    )
    # Per-cell grouped-BLAS top-k (cogrouped applyInPandas): each cell's
    # member matrix meets the queries probing it in ONE numpy matmul,
    # and only the per-(query, cell) top-k rows leave Python — vs the
    # former broadcast-join form, whose |queries|·(nprobe/C)·n candidate
    # ROWS each paid an interpreted 64-dim fold and then shuffled into
    # the ranking window (measured 9.7 s → ~2 s at sf1, C=8). The
    # global top-k is exactly the re-ranked union of per-cell top-ks
    # under the same (score DESC, vec_id) order, so results are
    # bit-identical. The cell exchange this introduces is the IVF
    # layout itself — on a cell-partitioned table it disappears.
    def _cell_topk(corpus_pdf: pd.DataFrame, query_pdf: pd.DataFrame) -> pd.DataFrame:
        if corpus_pdf.empty or query_pdf.empty:
            return pd.DataFrame(
                {"query_id": [], "cell": [], "vec_id": [], "cosine_sim": []}
            )
        M = np.vstack(corpus_pdf["u"].to_numpy())
        ids = corpus_pdf["vec_id"].to_numpy()
        cell = int(corpus_pdf["cell"].iloc[0])
        Q = np.vstack(query_pdf["qu"].to_numpy())
        qids = query_pdf["query_id"].to_numpy()
        S = np.round(Q @ M.T, 6)
        outs = []
        for qi in range(len(qids)):
            s = S[qi]
            mask = ids != qids[qi]
            cand_ids, cand_s = ids[mask], s[mask]
            order = np.lexsort((cand_ids, -cand_s))[:k]
            outs.append(
                pd.DataFrame(
                    {
                        "query_id": np.full(len(order), qids[qi]),
                        "cell": np.full(len(order), cell),
                        "vec_id": cand_ids[order],
                        "cosine_sim": cand_s[order],
                    }
                )
            )
        return pd.concat(outs, ignore_index=True)

    cand = (
        assigned.groupBy("cell")
        .cogroup(q.groupBy("cell"))
        .applyInPandas(
            _cell_topk, "query_id long, cell long, vec_id long, cosine_sim double"
        )
    )
    return _ranked(cand, k).select("query_id", "cell", "vec_id", "cosine_sim", "rank")


def topk_ivf_sq8(
    embeddings: DataFrame,
    query_mod: int = 97,
    k: int = 5,
    n_cells: int | None = None,
    iters: int = IVF_ITERS,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """IVF + int8 scalar quantization — the faiss ``IVF,SQ8`` analog
    and the production ANN configuration at 100 TB: the coarse
    quantizer prunes the scan to ~nprobe/n_cells of the corpus (the
    IVF story) and the candidates score against int8 CODES instead of
    floats (the SQ8 story: 1 byte/dim in the cell layout → 4-8× less
    candidate bandwidth). Cells, probes, and tie-breaks are identical
    to ``topk_ivf``; only the scoring representation changes, so the
    recall delta measured in pytest is exactly the quantization cost.

    Codes are derived from the RAW vectors (float→double is exact, so
    the codes — and therefore every integer dot — are bit-identical in
    both engines; unit vectors would carry an engine-dependent ulp
    from the norm's summation order into the round()). The per-cell
    scorer re-derives codes from the carried vector batch to keep the
    oracle contract self-contained; a cell-partitioned production
    layout stores the codes column instead and never ships floats.

    Same grouped-BLAS shape as ``topk_ivf``: one matmul per (cell ×
    probing queries) cogroup, only per-(query, cell) top-k rows leave
    Python, global rank over candidates."""
    if n_cells is None:
        n_cells = ivf_cells_for(embeddings.count())
    cents = ivf_centroids(embeddings, n_cells, iters)
    v = as_double(F.col("embedding"))
    assigned = embeddings.select(
        "vec_id",
        v.alias("v"),
        _unit_and_cell_pd(cents)(v).alias("uc"),
    ).select("vec_id", "v", F.col("uc.cell").alias("cell"))
    probe_cells = F.slice(
        F.array_sort(
            F.transform(
                _cell_scores(F.col("u"), cents),
                lambda sc: F.struct((-sc["s"]).alias("ns"), (-sc["nc"]).alias("cell")),
            )
        ),
        1,
        nprobe,
    )
    q = (
        embeddings.where(F.col("vec_id") % query_mod == 0)
        .select("vec_id", v.alias("qv"), _unit_pd(v).alias("u"))
        .select(
            F.col("vec_id").alias("query_id"),
            "qv",
            F.explode(probe_cells).alias("pc"),
        )
        .select("query_id", "qv", F.col("pc.cell").alias("cell"))
    )

    def _cell_topk_sq8(corpus_pdf: pd.DataFrame, query_pdf: pd.DataFrame) -> pd.DataFrame:
        if corpus_pdf.empty or query_pdf.empty:
            return pd.DataFrame(
                {"query_id": [], "cell": [], "vec_id": [], "cosine_sim": []}
            )
        C = _quantize_int8_np(np.vstack(corpus_pdf["v"].to_numpy()))
        ids = corpus_pdf["vec_id"].to_numpy()
        cell = int(corpus_pdf["cell"].iloc[0])
        Q = _quantize_int8_np(np.vstack(query_pdf["qv"].to_numpy()))
        qids = query_pdf["query_id"].to_numpy()
        S = np.round(
            (Q @ C.T)
            / (
                np.maximum(np.sqrt(np.einsum("ij,ij->i", Q, Q)), INT8_EPS)[:, None]
                * np.maximum(np.sqrt(np.einsum("ij,ij->i", C, C)), INT8_EPS)
            ),
            6,
        )
        outs = []
        for qi in range(len(qids)):
            s = S[qi]
            mask = ids != qids[qi]
            cand_ids, cand_s = ids[mask], s[mask]
            order = np.lexsort((cand_ids, -cand_s))[:k]
            outs.append(
                pd.DataFrame(
                    {
                        "query_id": np.full(len(order), qids[qi]),
                        "cell": np.full(len(order), cell),
                        "vec_id": cand_ids[order],
                        "cosine_sim": cand_s[order],
                    }
                )
            )
        return pd.concat(outs, ignore_index=True)

    cand = (
        assigned.groupBy("cell")
        .cogroup(q.groupBy("cell"))
        .applyInPandas(
            _cell_topk_sq8, "query_id long, cell long, vec_id long, cosine_sim double"
        )
    )
    return _ranked(cand, k).select("query_id", "cell", "vec_id", "cosine_sim", "rank")


def near_corpus(embeddings: DataFrame) -> DataFrame:
    """Embeddings ∪ perturbed copies (every NEAR_MOD-th vector, +PERTURB
    on every component) — the deterministic near-duplicate fixture, cast
    to double before perturbation so both engines do identical
    arithmetic."""
    base = embeddings.select("vec_id", as_double(F.col("embedding")).alias("v"), "label")
    near = (
        embeddings.where(F.col("vec_id") % NEAR_MOD == 0)
        .select(
            (F.col("vec_id") + NEAR_OFFSET).alias("vec_id"),
            F.transform(as_double(F.col("embedding")), lambda x: x + F.lit(PERTURB)).alias("v"),
            "label",
        )
    )
    return base.unionByName(near)


def cosine_neardup_pairs(embeddings: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Embedding near-dup detection: within-cell pairs above a cosine
    threshold. The label grouping keeps the pair space bucketed (the
    perturbed copies keep their source's label, so every planted
    near-dup is found); at scale the bucket key would be an LSH bucket
    or IVF cell — never all pairs.

    Executed as a grouped matmul (``applyInPandas`` per cell): each
    vector crosses the Arrow boundary once per cell — O(n) transfer —
    and the O(cell²·dim) similarity matrix runs in BLAS, emitting only
    pairs at or above the threshold. A pair self-join would shuffle
    both vectors per pair and fold the dot product interpreted."""
    c = near_corpus(embeddings).select("vec_id", "v", "label")

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        V = np.vstack(pdf["v"].to_numpy())
        ids = pdf["vec_id"].to_numpy()
        norms = np.linalg.norm(V, axis=1)
        sims = np.round((V @ V.T) / np.outer(norms, norms), 6)
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = sims[iu, ju] >= threshold
        ia, ib = ids[iu[keep]], ids[ju[keep]]
        return pd.DataFrame(
            {
                "vec_a": np.minimum(ia, ib),
                "vec_b": np.maximum(ia, ib),
                "label": np.full(len(ia), pdf["label"].iloc[0], dtype=np.int32),
                "cosine_sim": sims[iu[keep], ju[keep]],
            }
        )

    return c.groupBy("label").applyInPandas(
        cell_pairs, "vec_a long, vec_b long, label int, cosine_sim double"
    )


def lsh_bucket_udf(planes: list[list[float]]):
    """Sign-of-projection LSH bucket id (bit j = (v · r_j ≥ 0)), one
    Arrow-vectorized matmul against the plane matrix per batch.
    Projections are rounded to 6 dp before the sign test, like the
    oracle's sequential list dot, so the ~1e-15 blas-vs-sequential
    noise cannot flip a bit unless a projection sits within 1e-15 of a
    0.5e-6 rounding boundary (measure-zero for real-valued
    embeddings)."""
    P = np.array(planes, dtype=np.float64).T  # dim × n_planes
    weights = 1 << np.arange(P.shape[1], dtype=np.int64)

    @pandas_udf(IntegerType())
    def bucket(v: pd.Series) -> pd.Series:
        V = np.vstack(v.to_numpy())
        bits = (np.round(V @ P, 6) >= 0).astype(np.int64)
        return pd.Series((bits @ weights).astype("int32"))

    return bucket


def _probe_masks(n_planes: int, hamming: int) -> list[int]:
    """XOR masks for multi-probe: every bit pattern of weight ≤
    ``hamming`` over ``n_planes`` bits (weight 0 = the query's own
    bucket). hamming=1 over 8 planes → 9 probes; 2 → 37."""
    masks = [0]
    if hamming >= 1:
        masks += [1 << j for j in range(n_planes)]
    if hamming >= 2:
        masks += [
            (1 << i) | (1 << j) for i in range(n_planes) for j in range(i + 1, n_planes)
        ]
    if hamming >= 3:
        raise ValueError("probe_hamming > 2 defeats the index; add planes instead")
    return masks


def lsh_buckets_udf(n_tables: int, n_planes: int = N_PLANES, dim: int = DIM):
    """Arrow-vectorized multi-table bucket assignment: ONE matmul
    against all tables' planes per batch, split into per-table bucket
    ids — each vector crosses Arrow once regardless of table count."""
    from pyspark.sql.types import ArrayType

    stacked = np.array(
        [p for t in range(n_tables) for p in hyperplanes(n_planes, dim, table=t)],
        dtype=np.float64,
    ).T  # dim × (n_tables · n_planes)
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    @pandas_udf(ArrayType(IntegerType()))
    def buckets(v: pd.Series) -> pd.Series:
        V = np.vstack(v.to_numpy())
        bits = (np.round(V @ stacked, 6) >= 0).astype(np.int64)
        per_table = bits.reshape(len(V), n_tables, n_planes) @ weights
        return pd.Series(list(per_table.astype("int32")))

    return buckets


def _topk_lsh_multitable(
    embeddings: DataFrame, query_mod: int, k: int, probe_hamming: int, n_tables: int
) -> DataFrame:
    """Multi-table path: candidates are the UNION over L independent
    plane sets of same-bucket (query, vector) pairs — the classic LSH
    recall lever (each extra table is an independent chance to catch a
    neighbor that one table's cuts separated). Ids-only until after
    dedup: the bucket join moves (id, table, bucket) rows, the distinct
    collapses multi-table collisions, and only then do the (few)
    candidates pick their vectors back up via broadcast joins — the
    vector table is never shuffled and never duplicated ×L."""
    buckets_of = lsh_buckets_udf(n_tables)
    cv = as_double(F.col("embedding"))
    base = embeddings.select("vec_id", cv.alias("cv"))
    cb = base.select(
        "vec_id", F.posexplode(buckets_of(F.col("cv"))).alias("table", "bucket")
    )
    masks = _probe_masks(N_PLANES, probe_hamming)
    qbase = base.where(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("query_id"), F.col("cv").alias("qv")
    )
    qb = (
        qbase.select(
            "query_id", F.posexplode(buckets_of(F.col("qv"))).alias("table", "own")
        )
        .select(
            "query_id",
            "table",
            F.explode(
                F.array(*[F.col("own").bitwiseXOR(F.lit(m)) for m in masks])
            ).alias("bucket"),
        )
    )
    cand = (
        cb.join(F.broadcast(qb), ["table", "bucket"])
        .where(F.col("query_id") != F.col("vec_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    pairs = (
        base.join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(qbase), "query_id")
        .select(
            "query_id",
            "vec_id",
            cosine6_pd(F.col("qv"), F.col("cv")).alias("cosine_sim"),
        )
    )
    return _ranked(pairs, k).select("query_id", "vec_id", "cosine_sim", "rank")


# Source-size gate for the adaptive LSH scoring path (bytes of input
# parquet). Below it the broadcast-pair form wins (per-group pandas
# overhead of the cogroup dominates tiny pair volumes); above it the
# cogrouped per-bucket BLAS wins (pair-row shuffle grows ~quadratically
# in bucket occupancy while the cogroup moves each vector once).
# Crossover measured r15 on ×10/×30-replicated sf0.1 embeddings (see
# OPTIMIZATION_r15.md). The size comes from ``_source_bytes``, which
# only stats local-filesystem files: on an object store (s3://,
# hdfs://) the size is unknown and the cogroup path always runs.
LSH_COGROUP_MIN_BYTES = 8 * 1024 * 1024


def _source_bytes(df: DataFrame) -> int | None:
    """Total on-disk bytes behind a DataFrame's file sources — a
    driver-side listing (``inputFiles()``; no job), the same probe the
    Bloom-model memo key uses. ``None`` (non-file source, listing
    failure) means "size unknown": callers take their scale-safe
    branch."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for uri in files:
        path = uri[len("file:") :] if uri.startswith("file:") else uri
        try:
            total += os.stat(path).st_size
        except OSError:
            return None
    return total


def topk_lsh(
    embeddings: DataFrame,
    query_mod: int = 97,
    k: int = 5,
    probe_hamming: int = 0,
    n_tables: int = 1,
) -> DataFrame:
    """Hyperplane-LSH ANN top-k: bucket every vector by projection
    signs, probe the query's bucket plus (``probe_hamming`` > 0) every
    bucket within that Hamming distance — the standard multi-probe
    recall knob: a near neighbor that lands across one hyperplane is
    reached by flipping that bit, so probing H(≤1) buckets buys most of
    the lost recall for 9× (not 256×) the candidate volume at 8 planes.
    ``n_tables`` > 1 adds the other classic lever — L independent plane
    sets whose candidates union (``_topk_lsh_multitable``; note the
    output drops the single-table ``bucket`` column since a pair may
    collide in any table). Both knobs measured by llm/evaluation.py
    (REPORT.md); the single-table path is the DuckDB-oracled one.

    The join key is the (uniformly distributed) bucket id; multi-probe
    only fans out the tiny query side — the vector table is still
    bucketed once and never duplicated.

    Scale shape (r14 re-plan, r15 size-adaptive): ABOVE
    ``LSH_COGROUP_MIN_BYTES`` of source parquet, scoring is a COGROUP
    by bucket — one BLAS matmul of the bucket's queries x candidates
    per group, each query emitting only its bucket-local top-k —
    instead of the pair-exploding join + per-pair cosine + pair-level
    window it replaced. The old form shuffled |bucket| x
    queries-per-bucket PAIR rows (each carrying two dim-length arrays)
    into the ranking exchange — ~40 M rows at sf10, the whole wall; the
    cogroup moves each vector once (grouped by bucket) and ranks masks
    x queries x k candidate rows. Any global top-k pair is top-k within
    its own bucket (a pair exists in exactly one bucket — the
    candidate's), so bucket-local pruning is lossless, same argument as
    ``topk_bruteforce``'s batch-local top-k. BELOW the threshold the
    pair volume is trivially small and the 256-cogroup fan-out IS the
    wall (the r14 sf0.1 regression, 0.77 -> 1.30 s: hundreds of tiny
    pandas groups cost more than the pairs they avoid), so the
    broadcast-pair form runs instead — value-identical (both round to
    6 dp BEFORE the identical (sim desc, vec_id asc) ranking, and both
    score exactly the same-bucket non-self pairs; pinned equal in
    tests/test_ann_recall.py). The size probe is a driver-side
    file listing (no job); unknown-size sources (in-memory frames)
    take the scale-safe cogroup. At 100 TB the bucket is the partition
    key and N_PLANES is the bucket-count lever."""
    if n_tables > 1:
        return _topk_lsh_multitable(embeddings, query_mod, k, probe_hamming, n_tables)
    import numpy as np

    planes = hyperplanes()
    bucket_of = lsh_bucket_udf(planes)
    cv = as_double(F.col("embedding"))
    c = embeddings.select("vec_id", cv.alias("cv")).withColumn(
        "bucket", bucket_of(F.col("cv"))
    )
    masks = _probe_masks(len(planes), probe_hamming)
    q = (
        embeddings.where(F.col("vec_id") % query_mod == 0)
        .select(F.col("vec_id").alias("query_id"), cv.alias("qv"))
        .withColumn("own_bucket", bucket_of(F.col("qv")))
        .withColumn(
            "bucket",
            F.explode(
                F.array(*[F.col("own_bucket").bitwiseXOR(F.lit(m)) for m in masks])
            ),
        )
        .drop("own_bucket")
    )
    src = _source_bytes(embeddings)
    if src is not None and src < LSH_COGROUP_MIN_BYTES:
        pairs = (
            c.join(
                F.broadcast(q),
                (q["bucket"] == c["bucket"]) & (q["query_id"] != c["vec_id"]),
            )
            .select(
                "query_id",
                c["bucket"].alias("bucket"),
                "vec_id",
                cosine6_pd(F.col("qv"), F.col("cv")).alias("cosine_sim"),
            )
        )
        return _ranked(pairs, k).select(
            "query_id", "bucket", "vec_id", "cosine_sim", "rank"
        )

    def score(cand: pd.DataFrame, qs: pd.DataFrame) -> pd.DataFrame:
        cols = ["query_id", "bucket", "vec_id", "cosine_sim"]
        if len(cand) == 0 or len(qs) == 0:
            return pd.DataFrame(columns=cols)
        C = np.vstack(cand["cv"].to_numpy())
        cid = cand["vec_id"].to_numpy()
        Q = np.vstack(qs["qv"].to_numpy())
        qid = qs["query_id"].to_numpy()
        bucket = int(cand["bucket"].iloc[0])
        # same 6-dp rounding contract as cosine6_pd, BEFORE ranking,
        # so blas-vs-sequential 1e-15 noise cannot reorder ties
        sims = np.round(
            (Q @ C.T)
            / (
                np.linalg.norm(Q, axis=1)[:, None]
                * np.linalg.norm(C, axis=1)[None, :]
            ),
            6,
        )
        sims[qid[:, None] == cid[None, :]] = -2.0  # self-pair sentinel
        out_q, out_v, out_s = [], [], []
        kk = min(k, sims.shape[1])
        for i in range(len(qid)):
            # ties break (sim desc, vec_id asc); lexsort's LAST key is
            # primary
            order = np.lexsort((cid, -sims[i]))[:kk]
            keep = order[sims[i][order] > -2.0]
            out_q.append(np.full(len(keep), qid[i]))
            out_v.append(cid[keep])
            out_s.append(sims[i][keep])
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "bucket": np.int32(bucket),
                "vec_id": np.concatenate(out_v),
                "cosine_sim": np.concatenate(out_s),
            }
        )

    pairs = (
        c.groupBy("bucket")
        .cogroup(q.groupBy("bucket"))
        .applyInPandas(
            score, "query_id long, bucket int, vec_id long, cosine_sim double"
        )
    )
    return _ranked(pairs, k).select("query_id", "bucket", "vec_id", "cosine_sim", "rank")


def ivf_assign(embeddings: DataFrame, cents: Centroids) -> DataFrame:
    """(vec_id, cell) assignment against an EXISTING centroid list —
    the index-maintenance primitive: new vectors join the index by
    scoring the literal centroids (a pure projection, zero shuffle),
    the quantizer is not retrained. Production practice retrains
    periodically when cell balance drifts; between retrains this is
    the whole per-batch cost."""
    return embeddings.select(
        "vec_id",
        _unit_and_cell_pd(cents)(as_double(F.col("embedding")))["cell"].alias(
            "cell"
        ),
    )


IVF_INDEX_BATCH_MOD = 10


def ivf_index_incremental(
    spark, sf_dir: str, n_cells: int | None = None
) -> DataFrame:
    """Incremental IVF index maintenance, end-to-end: train the coarse
    quantizer on the base vectors (vec_id % IVF_INDEX_BATCH_MOD != 0),
    persist their cell assignments, then APPEND the new batch's
    assignments against the SAME frozen centroids. Returns the final
    index state; the DuckDB oracle trains on the identical base subset
    and assigns all vectors from scratch, so a hash match proves
    append-with-frozen-centroids ≡ full assignment — the invariant
    that lets a production pipeline index each day's embeddings
    without touching history (and the measurable contract a periodic
    retrain must re-establish)."""
    from ad_data_lake_spark.scratch import scratch_dir
    from ad_data_lake_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    path = scratch_dir(spark, "ivf-index", sf_dir)

    base = emb.where(F.col("vec_id") % IVF_INDEX_BATCH_MOD != 0)
    batch = emb.where(F.col("vec_id") % IVF_INDEX_BATCH_MOD == 0)
    cents = ivf_centroids(base, n_cells)
    ivf_assign(base, cents).write.parquet(path)
    ivf_assign(batch, cents).write.mode("append").parquet(path)
    return spark.read.parquet(path)


RAG_K = 3


def rag_retrieve(
    embeddings: DataFrame,
    documents: DataFrame,
    k: int = RAG_K,
    n_queries: int = 5,
) -> DataFrame:
    """End-to-end retrieval (the RAG read path): exact cosine top-k
    over the vector table, then the (queries × k)-row hit list is
    BROADCAST into the documents scan to attach the text payload —
    the document corpus streams past the tiny hit list and is never
    shuffled, the join every retrieval serving layer runs after its
    index probe. Output: one row per (query, rank) with the matched
    document's id, score, snippet, and length.

    Swap ``topk_bruteforce`` for ``topk_ivf`` to make the probe the
    scale path; the join shape is identical (hits stay q × k)."""
    hits = topk_bruteforce(embeddings, n_queries=n_queries, k=k)
    docs = documents.select(
        "doc_id",
        F.substring(F.col("text"), 1, 80).alias("snippet"),
        "n_chars",
    )
    return (
        docs.join(F.broadcast(hits), docs["doc_id"] == hits["vec_id"])
        .select("query_id", "rank", "doc_id", "cosine_sim", "snippet", "n_chars")
        .orderBy("query_id", "rank")
    )


SEMDEDUP_TAU = 0.95


def semantic_dedup(embeddings: DataFrame, threshold: float = SEMDEDUP_TAU) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication in embedding space — vectors whose cosine similarity
    exceeds ``threshold`` inside a bucket form duplicate groups; ONE
    representative per group (min vec_id, the same keeper rule
    ``dedup_exact`` uses) survives. Output: one row per corpus vector
    with its bucket, its group keeper, and the keep/drop verdict — the
    row-level decision sheet a curation pipeline applies before
    training.

    Composition (all pieces exist; this operator is their keep-decision
    closure): within-bucket ≥τ pairs from the grouped-BLAS matmul
    (``cosine_neardup_pairs`` — each vector crosses Arrow once per
    bucket, O(cell²) similarity only inside buckets), components via
    shared min-label propagation (``dedup.min_label_components``,
    O(diameter) rounds — duplicate groups are near-cliques), then one
    left join back to the corpus: unpaired vectors keep themselves.
    The paper buckets by k-means cell; the fixture buckets by ``label``
    (the planted near-copies share their source's label), and at scale
    the bucket key is ``ivf_assign``'s cell — same plan either way."""
    from ad_data_lake_spark.llm.dedup import min_label_components

    c = near_corpus(embeddings).select("vec_id", "label")
    pairs = cosine_neardup_pairs(embeddings, threshold).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    comp = min_label_components(pairs).select(
        F.col("doc_id").alias("vec_id"), F.col("label").alias("keeper")
    )
    return c.join(comp, "vec_id", "left").select(
        "vec_id",
        "label",
        F.coalesce(F.col("keeper"), F.col("vec_id")).alias("keeper"),
        (F.coalesce(F.col("keeper"), F.col("vec_id")) == F.col("vec_id")).alias(
            "keep"
        ),
    )


def semantic_dedup_ivf(
    embeddings: DataFrame,
    threshold: float = SEMDEDUP_TAU,
    n_cells: int | None = None,
) -> DataFrame:
    """SemDeDup bucketed by REAL IVF cells (Abbas et al. 2023,
    arXiv:2303.09540 §2: "cluster with k-means, dedup within
    clusters") — the production form of ``semantic_dedup``, whose
    fixture ``label`` bucket stood proxy for exactly this cell key.
    Plan: train the coarse quantizer once (bounded-sample driver
    k-means, ``ivf_centroids``), assign the corpus to cells in one
    Arrow pass (``_unit_and_cell_pd`` — zero shuffle), grouped-BLAS
    within-cell ≥τ pairs (one shuffle on cell), min-label connected
    components, one left join back for the keep verdict. Candidate
    volume is Σ cell² — with √n cells per the ``ivf_cells_for`` rule
    the pair space stays ~n·√n, never all-pairs; every piece is the
    already-plan-asserted machinery of ``topk_ivf`` and
    ``semantic_dedup``. The DuckDB oracle unrolls the SAME k-means
    (6-dp contract) so cells, pairs, components, and verdicts are all
    value-checked."""
    from ad_data_lake_spark.llm.dedup import min_label_components

    cents = ivf_centroids(embeddings, n_cells)
    # assigned feeds BOTH the within-cell pair kernel and the final
    # verdict join; without a cut the scan + Arrow assign pass runs
    # twice (the checkpointed pair graph hides the reuse from
    # ReuseExchange). Lazy localCheckpoint: materialized by the edge
    # checkpoint's own job, read back by the verdict join — one assign
    # pass at any scale (r14: 1.68 s → 1.58 s median at sf0.1).
    assigned = near_corpus(embeddings).select(
        "vec_id",
        "v",
        _unit_and_cell_pd(cents)(F.col("v"))["cell"].alias("cell"),
    ).localCheckpoint(eager=False)

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        V = np.vstack(pdf["v"].to_numpy())
        ids = pdf["vec_id"].to_numpy()
        norms = np.linalg.norm(V, axis=1)
        sims = np.round((V @ V.T) / np.outer(norms, norms), 6)
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = sims[iu, ju] >= threshold
        ia, ib = ids[iu[keep]], ids[ju[keep]]
        return pd.DataFrame(
            {"doc_a": np.minimum(ia, ib), "doc_b": np.maximum(ia, ib)}
        )

    pairs = assigned.groupBy("cell").applyInPandas(
        cell_pairs, "doc_a long, doc_b long"
    )
    comp = min_label_components(pairs).select(
        F.col("doc_id").alias("vec_id"), F.col("label").alias("keeper")
    )
    return assigned.drop("v").join(comp, "vec_id", "left").select(
        "vec_id",
        "cell",
        F.coalesce(F.col("keeper"), F.col("vec_id")).alias("keeper"),
        (F.coalesce(F.col("keeper"), F.col("vec_id")) == F.col("vec_id")).alias(
            "keep"
        ),
    )


def embedding_drift(embeddings: DataFrame) -> DataFrame:
    """Embedding-pipeline drift check: per label, the cosine between
    the centroid of the even-id half and the odd-id half of the
    vectors. In production the halves are "yesterday's batch" vs
    "today's" over CLUSTERED real embeddings, where a same-label
    centroid cosine falling from ~1 flags an encoder change, a corrupt
    batch, or label drift before it poisons an index rebuild. (On the
    ISOTROPIC fixture the per-label mean is near the origin, so the
    cosine is sample noise — the registry row verifies the aggregation
    arithmetic exactly via the oracle, and pytest pins it against a
    numpy recomputation; the deterministic id split keeps both checks
    reproducible.)

    Plan: one scan → posexplode to (label, dim, val) rows → a
    (label, dim) aggregate computing BOTH half-means as conditional
    avgs → one label rollup stitching the ordered centroid arrays +
    fold cosine @6 dp. Two small shuffles, but every aggregate is a
    2-buffer codegen'd HashAggregate — the wide-form alternative
    (2×64 avg() columns in one groupBy) generates a method past the
    JIT's happy path and measured 1.6 s vs 0.6 s at sf0.1; the
    exploded stream is (int, int, double) rows, the same shape the
    oracle's unnest uses."""
    ex = embeddings.select(
        "label",
        (F.col("vec_id") % 2 == 0).alias("is_even"),
        F.posexplode(F.col("embedding")).alias("dim", "val"),
    )
    per_dim = ex.groupBy("label", "dim").agg(
        F.avg(F.when(F.col("is_even"), F.col("val").cast("double"))).alias("a"),
        F.avg(F.when(~F.col("is_even"), F.col("val").cast("double"))).alias("b"),
        # vector counts ride the dim-0 slice so no second scan is needed
        F.count_if(F.col("is_even") & (F.col("dim") == 0)).alias("ne0"),
        F.count_if(~F.col("is_even") & (F.col("dim") == 0)).alias("no0"),
    )
    per_label = per_dim.groupBy("label").agg(
        F.sum("ne0").alias("n_even"),
        F.sum("no0").alias("n_odd"),
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("dim").alias("d"), F.col("a").alias("a"), F.col("b").alias("b")
                )
            )
        ).alias("m"),
    )
    ca = F.transform(F.col("m"), lambda x: x["a"])
    cb = F.transform(F.col("m"), lambda x: x["b"])
    return per_label.select(
        "label",
        "n_even",
        "n_odd",
        F.round(cosine(ca, cb), 6).alias("centroid_cosine"),
    )


BINARY_TOP_K = 10
BINARY_N_QUERIES = 5
_BITS_PER_WORD = 32  # two 32-bit words per 64-dim vector: bit 63 of a
# single BIGINT pack would overflow the signed range in both engines


def _popcount32(x: "np.ndarray") -> "np.ndarray":
    """Vectorized SWAR popcount for arrays of non-negative 32-bit
    words held in int64 (numpy < 2.0 has no ``bitwise_count``).
    Classic public bit-twiddling identity, exact for 0..2^32-1."""
    x = x - ((x >> 1) & 0x55555555)
    x = (x & 0x33333333) + ((x >> 2) & 0x33333333)
    x = (x + (x >> 4)) & 0x0F0F0F0F
    # int64 carries bits above 31 through the multiply; mask them off
    return ((x * 0x01010101) >> 24) & 0xFF


def _pack_words(bits: "np.ndarray") -> tuple["np.ndarray", "np.ndarray"]:
    """(n, 64) sign-bit matrix → (lo, hi) int64 word arrays with the
    ``_binary_word`` convention (bit j of word w = dim w*32+j+1);
    equality with the JVM pack is pinned in tests/test_ann_recall.py.

    Hard dim guard: packbits past column 64 would yield extra u4 words
    that ``[:, 0]`` silently drops, truncating the Hamming code —
    a >64-dim corpus must fail loudly, not return wrong top-k."""
    b = np.ascontiguousarray(bits, dtype=np.uint8)
    if b.shape[1] != 2 * _BITS_PER_WORD:
        raise ValueError(
            f"binary sign-bit pack requires exactly {2 * _BITS_PER_WORD} dims, "
            f"got {b.shape[1]}"
        )
    lo = np.packbits(b[:, :32], axis=1, bitorder="little").view("<u4")[:, 0]
    hi = np.packbits(b[:, 32:], axis=1, bitorder="little").view("<u4")[:, 0]
    return lo.astype(np.int64), hi.astype(np.int64)


def _binary_word(vec: Column, word: int) -> Column:
    """Bits ``word*32+1 .. word*32+32`` of the sign-bit code as one
    non-negative long: bit j set iff component >= 0 (exact-zero counts
    positive — deterministic in both engines)."""
    terms = [
        F.when(
            F.element_at(vec, word * _BITS_PER_WORD + j + 1) >= 0,
            F.lit(1 << j),
        ).otherwise(F.lit(0))
        for j in range(_BITS_PER_WORD)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out.cast("long")


def binary_codes(embeddings: DataFrame) -> DataFrame:
    """(vec_id, lo, hi): the packed sign-bit codes as stored at rest —
    1 bit/dim, 64× smaller than float64. Pure codegen; equality with
    the independent numpy pack is pinned in tests/test_ann_recall.py.
    ``topk_binary`` recomputes bits from the float column on the
    fixture (one table), but a production deployment probes THIS table
    and never rereads the floats."""
    v = as_double(F.col("embedding"))
    return embeddings.select(
        "vec_id",
        _binary_word(v, 0).alias("lo"),
        _binary_word(v, 1).alias("hi"),
    )


def topk_binary(
    embeddings: DataFrame,
    n_queries: int = BINARY_N_QUERIES,
    k: int = BINARY_TOP_K,
    query_pred: Column | None = None,
) -> DataFrame:
    """Hamming top-k over SIGN-BIT (1 bit/dim) quantized vectors — the
    third quantization tier under float (``topk_bruteforce``) and int8
    (``topk_int8``): 64× less storage/bandwidth than float64, and the
    distance is two XOR+popcounts per pair instead of a 64-term dot —
    the candidate-generation pass a billion-vector system runs BEFORE
    an int8/float re-rank (compose: take binary top-4k, re-rank with
    ``topk_int8``'s scorer).

    Storage codes pack as two 32-bit words (``binary_codes`` — pure
    codegen, the LSH hyperplane-code pattern with axis-aligned planes;
    bit 63 of one BIGINT would overflow the signed range in both
    engines; a production deployment probes that stored table and
    never rereads the floats). The fixture probe is ONE zero-copy
    ``mapInArrow`` pass over the float column: the ListArray flattens
    straight into an (n, 64) view (no per-row list materialization,
    no vstack), signs pack via ``np.packbits`` into the same two
    words (``_pack_words``, equality with the JVM pack pinned in
    pytest), and Hamming = XOR + vectorized SWAR popcount
    (``_popcount32``, numpy<2 has no bitwise_count) with batch-local
    top-k emission — the final window ranks n_batches·q·k rows,
    never the corpus. Hamming is integer-exact in both engines, so
    the row needs no rounding contract at all; ties (hamming is
    0..64-valued, ties are the norm) break on vec_id. Retrieval ERROR
    vs the exact float top-k is measured and pinned in
    tests/test_ann_recall.py, like every other approximate index
    here."""
    import pyarrow as pa

    pred = query_pred if query_pred is not None else F.col("vec_id") < n_queries
    # pred applies to the RAW table so the query-side collect stays a
    # pruned one-row-group read (a filter above the pack projection
    # would not push: element_at can throw under ANSI)
    qrows = embeddings.where(pred).select("vec_id", "embedding").collect()
    if not qrows:
        empty = "query_id long, vec_id long, hamming int, rank int"
        return embeddings.sparkSession.createDataFrame([], empty)
    q_ids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    q_lo, q_hi = _pack_words(np.vstack([r["embedding"] for r in qrows]) >= 0)

    def score(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            ids = rb.column(0).to_numpy()
            flat = rb.column(1).flatten().to_numpy(zero_copy_only=False)
            lo, hi = _pack_words(flat.reshape(rb.num_rows, -1) >= 0)
            # popcount(a XOR b) per word pair, broadcast (n, q)
            ham = _popcount32(lo[:, None] ^ q_lo[None, :]) + _popcount32(
                hi[:, None] ^ q_hi[None, :]
            )
            out_q, out_v, out_h = [], [], []
            for j in range(len(q_ids)):
                col = ham[:, j]
                mask = ids != q_ids[j]
                cand_ids, cands = ids[mask], col[mask]
                order = np.lexsort((cand_ids, cands))[:k]
                out_q.append(np.full(len(order), q_ids[j]))
                out_v.append(cand_ids[order])
                out_h.append(cands[order])
            yield pa.RecordBatch.from_pydict(
                {
                    "query_id": np.concatenate(out_q),
                    "vec_id": np.concatenate(out_v),
                    "hamming": np.concatenate(out_h).astype(np.int32),
                }
            )

    cand = embeddings.select("vec_id", "embedding").mapInArrow(
        score, "query_id long, vec_id long, hamming int"
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("hamming"), F.asc("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "hamming", "rank")
    )
