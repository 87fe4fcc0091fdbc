"""Text-analysis operators over the ``documents`` table: stats, quality
scoring, language-ID, token counting, fingerprinting.

Design rules (100 TB):
- every operator here is a pure per-row column expression — zero
  shuffles, fully codegen'd, trivially parallel at any scale;
- tokenization is array-function based (``split`` + higher-order
  functions), never a Python UDF;
- hashes are md5 hex strings so the DuckDB oracle can reproduce every
  value bit-for-bit.

The reference has no text layer — this is the BASELINE.json north-star
extension (SURVEY.md §7 step 8) a training-data pipeline needs.
"""

from __future__ import annotations

from ad_data_lake_spark.sources.tables import spread
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Tiny per-language stopword vocabularies for the n-gram/stopword
# language-ID heuristic. Deterministic tie-break follows LANGS order.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "es": ("el", "los", "y", "es", "una", "que"),
    "fr": ("le", "les", "et", "est", "une", "dans"),
    "zh": ("的", "是", "了", "在", "和"),
}
LANGS = tuple(LANG_STOPWORDS)

# Word-ish tokens OR single non-space symbols — a BPE-ish split that
# counts punctuation as its own token (regex kept to the syntax subset
# Java regex and RE2/DuckDB share).
TOKEN_REGEX = "[A-Za-z0-9]+|[^A-Za-z0-9 ]"

STOPWORDS_EN = LANG_STOPWORDS["en"]


def words(col: Column) -> Column:
    """Whitespace tokens of a text column."""
    return F.split(F.trim(col), r"\s+")


def exploded_shingles(df: DataFrame, id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """(id_col, s): one row per n-word shingle occurrence, built fully
    in whole-stage codegen — explode over the start-index range, then
    stitch each shingle with ``element_at`` on the token array. Emits
    each shingle as its ``n`` words joined by one space, NOT
    deduplicated: downstream aggregates (min, collect_set, count over
    distinct rows) are multiplicity-invariant, which keeps the whole
    pipeline out of interpreted lambda territory.

    Scale: ZERO shuffles — scan → explode → project pipelines inside
    one codegen stage straight into the consumer's partial aggregate
    (an earlier ``lead()``-window formulation paid a full shuffle +
    per-document sort of every token row here). The size guard keeps
    ``sequence`` from going descending on sub-``n``-token documents,
    which emit no rows (the DuckDB oracle's ``range()`` is empty for a
    negative span too)."""
    df = spread(df)  # shingle construction is compute-bound and now shuffle-free
    w = words(F.col("text"))
    idx = df.select(
        F.col(id_col),
        w.alias("_w"),
        F.explode(
            F.when(F.size(w) >= n, F.sequence(F.lit(1), F.size(w) - (n - 1))).otherwise(
                F.array().cast("array<int>")
            )
        ).alias("_i"),
    )
    shingle = F.concat_ws(
        " ", *[F.element_at("_w", F.col("_i") + k) for k in range(n)]
    )
    return idx.select(id_col, shingle.alias("s"))


def exploded_shingles_with_pos(
    df: DataFrame, id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id_col, pos, s): like ``exploded_shingles`` but keeping each
    occurrence's 1-based START TOKEN INDEX — the form span-level
    consumers (boilerplate removal) need to map a shingle match back to
    the token positions it covers. Same codegen/zero-shuffle shape."""
    df = spread(df)
    w = words(F.col("text"))
    idx = df.select(
        F.col(id_col),
        w.alias("_w"),
        F.explode(
            F.when(F.size(w) >= n, F.sequence(F.lit(1), F.size(w) - (n - 1))).otherwise(
                F.array().cast("array<int>")
            )
        ).alias("pos"),
    )
    shingle = F.concat_ws(
        " ", *[F.element_at("_w", F.col("pos") + k) for k in range(n)]
    )
    return idx.select(id_col, "pos", shingle.alias("s"))


def text_stats(documents: DataFrame) -> DataFrame:
    """Per-document corpus statistics: chars, whitespace tokens, mean
    token length, stopword ratio, uppercase-start flag. One projection,
    no shuffle."""
    w = words(F.col("text"))
    n_tokens = F.size(w)
    n_stop = F.size(F.filter(w, lambda x: x.isin(*STOPWORDS_EN)))
    # compute-bound projection: fan the narrow scan to session
    # parallelism (no-op on production row groups -- spread() guard)
    return spread(documents).select(
        "doc_id",
        "lang",
        F.length("text").alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(F.length(F.regexp_replace(F.col("text"), " ", "")) / n_tokens, 4).alias(
            "mean_token_len"
        ),
        F.round(n_stop / n_tokens, 4).alias("stopword_ratio"),
    )


def token_counts(documents: DataFrame) -> DataFrame:
    """Token-count estimators: whitespace split, BPE-ish regex split,
    and the chars/4 heuristic LLM pipelines use for budget estimates."""
    return spread(documents).select(
        "doc_id",
        F.size(words(F.col("text"))).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(TOKEN_REGEX), 0)).alias(
            "n_re_tokens"
        ),
        F.ceil(F.length("text") / 4).alias("n_bpe_est"),
    )


VOCAB_TOP_K = 50


def token_vocab(documents: DataFrame, top_k: int = VOCAB_TOP_K) -> DataFrame:
    """Tokenizer-training vocabulary extraction: the corpus's top-K
    tokens by total occurrences with their document frequencies — the
    frequency table every BPE/unigram tokenizer trainer starts from
    (and the IDF input for retrieval scoring).

    One explode → one token groupBy (map-side combine collapses each
    partition to its distinct tokens before the shuffle) → top-K via
    sort+limit, which Spark executes as TakeOrdered (per-partition
    heaps, no global sort materialization). Deterministic boundary:
    ties at rank K break on the token string in both engines."""
    toks = spread(documents).select(
        "doc_id", F.explode(words(F.col("text"))).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(top_k)
    )


SCRUB_VOCAB_K = 20  # fixture-scaled; production uses a tokenizer-sized K
SCRUB_PLANT_MOD = 5
UNK_TOKEN = "<unk>"


def rare_token_scrub(
    documents: DataFrame, top_k: int = SCRUB_VOCAB_K
) -> DataFrame:
    """Rare-token anonymization: replace every token outside the
    corpus's top-K vocabulary with ``<unk>`` — the memorization /
    quasi-identifier hygiene pass (unique user handles, ids, and
    one-off strings are exactly what an LM memorizes and what
    re-identifies a record; scrubbing them is the token-level
    counterpart of the regex PII tier, catching identifiers no pattern
    anticipates). Fixture planting: every ``SCRUB_PLANT_MOD``-th doc
    gets a unique ``user<doc_id>`` handle appended — frequency 1, so
    the scrub MUST remove it (the accept path is value-oracled along
    with the naturally rare tail).

    Plan: one bounded vocab aggregate (explode → map-side-combined
    token groupBy → TakeOrdered top-K, the token_vocab pass), collected
    to a driver-side frozenset — bounded by the ``top_k`` contract
    exactly like the IVF centroid literal — then ONE Arrow mapInPandas
    pass scrubs with O(1) set lookups; the corpus never shuffles. The
    declarative form (per-token ``array_contains`` against a broadcast
    vocab array) measured 3.9× DuckDB at sf1 — interpreted
    higher-order-function cost that does NOT amortize with scale, the
    same trap the ANN scoring hit — and was replaced by this pass.
    Top-K truncation keeps the vocab driver-safe at any corpus size.

    The planting projection, vocab set, and Arrow scrub pass are shared
    with the STREAMING twin (lake_queries.streaming_rare_token_scrub),
    which runs the identical scrub per micro-batch against the
    batch-trained vocab — the stream-static pattern."""
    docs = plant_rare_handles(documents)
    vset = scrub_vocab_set(docs, top_k)
    return docs.mapInPandas(scrub_batches_fn(vset), SCRUB_SCHEMA)


SCRUB_SCHEMA = "doc_id long, n_tokens int, n_scrubbed int, scrubbed_text string"


def plant_rare_handles(documents: DataFrame) -> DataFrame:
    """Fixture planting for the scrub rows: append a unique
    ``user<doc_id>`` handle to every ``SCRUB_PLANT_MOD``-th document
    (null text null-propagates through concat, matching the oracle)."""
    planted = F.when(
        F.col("doc_id") % SCRUB_PLANT_MOD == 0,
        F.concat(F.col("text"), F.lit(" user"), F.col("doc_id").cast("string")),
    ).otherwise(F.col("text"))
    return documents.select("doc_id", planted.alias("text"))


def scrub_vocab_set(docs: DataFrame, top_k: int = SCRUB_VOCAB_K) -> frozenset:
    """The allowed-token set: top-K corpus vocabulary, collected
    driver-side under the ``top_k`` bound (the IVF-centroid contract)."""
    return frozenset(
        r["token"] for r in token_vocab(docs, top_k).select("token").collect()
    )


def scrub_batches_fn(vset: frozenset):
    """mapInPandas generator scrubbing out-of-``vset`` tokens — shared
    by the batch and streaming scrub paths (the streaming plan is this
    exact stateless pass per micro-batch)."""

    def scrub(batches):
        import re as _re

        import pandas as pd

        ws = _re.compile(r"\s+")
        for pdf in batches:
            if pdf.empty:
                continue
            n_tok, n_scr, out = [], [], []
            for text in pdf["text"]:
                if text is None:
                    # null-propagate like both engines' split/len/join do
                    n_tok.append(None); n_scr.append(None); out.append(None)
                    continue
                # strip(" ") not strip(): Spark F.trim and DuckDB trim()
                # remove only spaces, and the oracle tokenizes the same
                # way — leading '\t'/'\n' must keep its empty token
                toks = ws.split(text.strip(" "))
                n_tok.append(len(toks))
                n_scr.append(sum(1 for t in toks if t not in vset))
                out.append(" ".join(t if t in vset else UNK_TOKEN for t in toks))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "n_tokens": pd.array(n_tok, dtype="Int32"),
                    "n_scrubbed": pd.array(n_scr, dtype="Int32"),
                    "scrubbed_text": out,
                }
            )

    return scrub


def lang_id(documents: DataFrame) -> DataFrame:
    """Stopword-hit language-ID heuristic: score each language by
    membership hits over the token list, argmax with deterministic
    tie-break in LANGS order; compared against the labeled ``lang``.

    Tokens exploded to rows, the 5 language scores as conditional sums
    in one codegen'd groupBy (map-side combine); the argmax when-chain
    then reads the materialized score columns — the per-row
    ``filter()`` lambda form re-evaluated the token split per score and
    ran interpreted."""
    toks = documents.select(
        "doc_id", "lang", F.explode(words(F.col("text"))).alias("tok")
    )
    aggs = [
        F.sum(F.when(F.col("tok").isin(*stops), 1).otherwise(0))
        .cast("int")
        .alias(f"score_{lang}")
        for lang, stops in LANG_STOPWORDS.items()
    ]
    g = toks.groupBy("doc_id", "lang").agg(*aggs)
    scores = {lang: F.col(f"score_{lang}") for lang in LANGS}
    predicted = None
    for lang in reversed(LANGS):  # build when-chain so earliest lang wins ties
        cond = scores[lang]
        others = [scores[o] for o in LANGS if o != lang]
        is_max = None
        for o in others:
            c = cond >= o
            is_max = c if is_max is None else (is_max & c)
        predicted = (
            F.when(is_max, F.lit(lang)) if predicted is None else F.when(is_max, F.lit(lang)).otherwise(predicted)
        )
    sel = [F.col("doc_id"), F.col("lang")]
    sel += [scores[lang].alias(f"score_{lang}") for lang in LANGS]
    sel += [
        predicted.alias("predicted_lang"),
        (predicted == F.col("lang")).alias("is_match"),
    ]
    return g.select(*sel)


def quality_columns(text: Column) -> dict[str, Column]:
    """The quality-filter metrics as pure column expressions keyed by
    their output name — usable both as the ``quality_score`` projection
    and INLINE by composite pipelines (llm/curation.py), which must not
    join a projection of the same row back on doc_id."""
    w = words(text)
    n_tokens = F.size(w)
    stop_ratio = F.size(F.filter(w, lambda x: x.isin(*STOPWORDS_EN))) / n_tokens
    mean_len = F.length(F.regexp_replace(text, " ", "")) / n_tokens
    len_ok = F.when((n_tokens >= 20) & (n_tokens <= 2000), F.lit(1.0)).otherwise(F.lit(0.0))
    stop_ok = F.when(stop_ratio >= 0.01, F.lit(1.0)).otherwise(F.lit(0.0))
    tok_ok = F.when((mean_len >= 2.0) & (mean_len <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
    score = F.round(0.4 * len_ok + 0.3 * stop_ok + 0.3 * tok_ok, 4)
    return {
        "n_tokens": n_tokens,
        "stopword_ratio": F.round(stop_ratio, 4),
        "mean_token_len": F.round(mean_len, 4),
        "quality_score": score,
        "keep": score >= 0.7,
    }


def quality_score(documents: DataFrame) -> DataFrame:
    """Composite document-quality score in [0,1]: length band, stopword
    band, mean-token-length band — the pre-training filter shape
    (C4/Gopher-style heuristics) as one arithmetic expression."""
    qc = quality_columns(F.col("text"))
    return spread(documents).select(
        "doc_id", *(expr.alias(name) for name, expr in qc.items())
    )


def doc_fingerprint(documents: DataFrame, k: int = 4) -> DataFrame:
    """K-min-sketch document fingerprint: the k lexicographically
    smallest md5 hashes of the distinct 3-word shingles, concatenated.
    Equal fingerprints ⇒ near-identical documents (winnowing-style);
    the sketch is constant-size regardless of document length.

    Built codegen-first: shingles exploded to rows (``exploded_
    shingles``), md5 per row, then one groupBy collecting the distinct
    hash set — sort + slice only touch the ~52-element per-doc array.
    collect_set dedupes, so multiplicity from the non-distinct explode
    cannot change the sketch or the count."""
    sh = exploded_shingles(documents)
    hashed = sh.select("doc_id", F.md5(F.col("s")).alias("h"))
    g = hashed.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("h")).alias("_hashes")
    )
    return g.select(
        "doc_id",
        F.concat_ws("", F.slice(F.col("_hashes"), 1, k)).alias("fingerprint"),
        F.size(F.col("_hashes")).alias("n_shingles"),
    )


REPETITION_TOP_RATIO = 0.08

# Deterministic planted PII (the synthetic corpus carries none): every
# 7th doc gains an email + phone derived from its doc_id, so the
# redaction path has real work whose result both engines reproduce.
PII_PLANT_MOD = 7
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+1-555-[0-9]{4}"


def repetition_stats(documents: DataFrame) -> DataFrame:
    """Per-document repetition profile — the boilerplate/spam signal a
    training-data filter cuts on: distinct-token ratio and the share
    of the single most frequent token.

    Two-level aggregate: (doc_id, tok) counts first (map-side partial
    combine collapses repeated tokens inside the scan stage), then one
    doc_id rollup — the shuffle carries one row per distinct token per
    doc, never the raw token stream."""
    per_tok = (
        spread(documents)
        .select("doc_id", F.explode(words(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    top_ratio = F.max("c") / F.sum("c")
    return per_tok.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.round(F.count("*") / F.sum("c"), 4).alias("distinct_ratio"),
        F.round(top_ratio, 4).alias("top_token_ratio"),
        (top_ratio > REPETITION_TOP_RATIO).alias("repetitive"),
    )


def pii_redact(documents: DataFrame) -> DataFrame:
    """PII scrub over the corpus: count then redact emails/phones to
    [EMAIL]/[PHONE] placeholders. Pure codegen'd regex column
    expressions — no UDF; the patterns are RE2-safe so the DuckDB
    oracle evaluates them identically.

    The fixture corpus is synthetic word-salad with no PII, so every
    PII_PLANT_MODth document gets a deterministic planted email+phone
    first (mirrored in the oracle) — the redaction is verified doing
    real work, not vacuously passing on zero matches."""
    planted = F.when(
        F.col("doc_id") % PII_PLANT_MOD == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id"),
            F.lit("@example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.col("text"))
    # Two measured fixes for the sf1 9.6x-of-DuckDB outlier:
    # (1) spread(): the regex stack is COMPUTE-bound and the fixture
    #     scan yields 2 tasks — 30 of 32 cores idle (the one-partition
    #     corpus-pass trap every other heavy text operator here guards);
    # (2) evaluate each text-sized expression ONCE: a plain alias is
    #     inlined by CollapseProject into every consumer (planted into
    #     4 outputs, the 2-regex redact chain into both sha2 and
    #     length — ~6 regex passes + 4 concat evals per row). A
    #     single-element explode is a Generate node, which projects do
    #     NOT collapse through, so `planted`/`redacted` become
    #     materialized attributes their consumers share. Narrow, no
    #     added shuffle beyond the spread.
    pinned = spread(documents).select("doc_id", planted.alias("_p")).select(
        "doc_id", F.explode(F.array("_p")).alias("planted")
    )
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("planted"), EMAIL_RE, "[EMAIL]"),
        PHONE_RE,
        "[PHONE]",
    )
    counted = pinned.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(F.col("planted"), F.lit(EMAIL_RE), F.lit(0))
        ).alias("n_emails"),
        F.size(
            F.regexp_extract_all(F.col("planted"), F.lit(PHONE_RE), F.lit(0))
        ).alias("n_phones"),
        redacted.alias("_r"),
    ).select(
        "doc_id", "n_emails", "n_phones", F.explode(F.array("_r")).alias("redacted")
    )
    return counted.select(
        "doc_id",
        "n_emails",
        "n_phones",
        F.sha2(F.col("redacted"), 256).alias("redacted_sha"),
        F.length(F.col("redacted")).alias("redacted_len"),
    )


# Unigram-LM vocabulary truncation: the model keeps the top-K tokens by
# corpus count (deterministic boundary: count desc, token asc); any OOV
# token scores with a count floor of 1 — the CCNet-style "perplexity
# under a corpus LM" quality signal, reduced to its unigram core so the
# DuckDB oracle verifies every probability. K=24 against the fixture's
# 31-token vocabulary so the OOV path does real work.
LM_VOCAB_K = 24


def unigram_lm_score(documents: DataFrame, vocab_k: int = LM_VOCAB_K) -> DataFrame:
    """Corpus-trained unigram language-model scoring: per document the
    mean negative log-likelihood and perplexity of its tokens under
    unigram probabilities estimated from the SAME corpus — the standard
    cheap quality/outlier signal (CCNet scores documents with a KenLM
    5-gram; the unigram reduction keeps the train-then-score shape and
    stays exactly reproducible in the oracle). High perplexity = tokens
    rare in the corpus = candidate junk.

    Scale shape: train pass = one token groupBy (map-side combine →
    vocab-sized shuffle) truncated to top-K, so the model table is
    bounded by construction and BROADCASTS regardless of corpus size;
    score pass = the token stream left-joins the broadcast vocab (no
    corpus shuffle) into one doc_id aggregate. The one-row token total
    rides along as a broadcast cross join — no driver-side collect of
    the trained model."""
    toks = documents.select("doc_id", F.explode(words(F.col("text"))).alias("token"))
    # both the top-K vocabulary and the token total derive from ONE
    # full-vocabulary aggregate — its shuffle is computed once and
    # reused by both consumers (asserted in tests/test_plans.py), so
    # training reads the corpus exactly once
    vocab_full = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    vocab = vocab_full.orderBy(F.desc("cnt"), F.asc("token")).limit(vocab_k)
    totals = vocab_full.agg(F.sum("cnt").alias("n_total"))
    nll = F.log(F.col("n_total") / F.coalesce(F.col("cnt"), F.lit(1)))
    return (
        toks.join(F.broadcast(vocab), "token", "left")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.count_if(F.col("cnt").isNull()).alias("n_oov"),
            F.round(F.avg(nll), 4).alias("avg_nll"),
            F.round(F.exp(F.avg(nll)), 2).alias("perplexity"),
        )
    )


TFIDF_TOP_K = 3


def tfidf_top_terms(documents: DataFrame, top_k: int = TFIDF_TOP_K) -> DataFrame:
    """Per-document top-K characteristic terms by TF-IDF (smoothed
    idf = ln((N+1)/(df+1))) — the keyword-extraction / retrieval-weight
    primitive. Rank is deterministic in both engines: ordered by the
    ROUNDED score (so last-ulp drift cannot reorder), then token text.

    Scale shape: term frequencies are one (doc_id, token) groupBy
    (map-side combine absorbs repeats in the scan stage); document
    frequencies derive from THAT aggregate — one more vocab-sized
    groupBy, never a second pass over the token stream — and the
    vocab-sized (df, N) tables broadcast back. The final per-document
    top-K window partitions on doc_id: maximal key cardinality, no
    skew, state bounded by one document's distinct tokens."""
    toks = documents.select("doc_id", F.explode(words(F.col("text"))).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    # the tf>0 predicate is vacuously true; it keeps the tf column
    # referenced so column pruning cannot specialize this branch's copy
    # of the tf aggregate — both consumers then share ONE canonical
    # exchange (ReusedExchange, asserted in tests/test_plans.py)
    # instead of re-scanning the token stream to rebuild it
    dfreq = tf.where(F.col("tf") > 0).groupBy("token").agg(F.count("*").alias("df"))
    ndocs = documents.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(ndocs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1) / (F.col("df") + 1)), 4
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .where(F.col("term_rank") <= top_k)
        .select("doc_id", "token", "tf", "df", "tfidf", "term_rank")
    )


# Gopher rule-suite thresholds (Rae et al. 2021, "Scaling Language
# Models", Table A1): production bounds first; the word-count band is
# the one knob a fixture-scaled caller narrows (the synthetic docs run
# 10–99 words, so the production 50..100k band would pass almost
# everything and the suite would assert nothing).
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MEAN_LEN_BAND = (3.0, 10.0)
GOPHER_MIN_STOPWORDS = 2
GOPHER_MIN_ALPHA_RATIO = 0.8
GOPHER_MAX_TOP_TOKEN_RATIO = 0.2


def gopher_columns(
    text: Column,
    min_words: int = GOPHER_MIN_WORDS,
    max_words: int = GOPHER_MAX_WORDS,
) -> dict[str, Column]:
    """The Gopher rule suite as pure column expressions keyed by output
    name — the ``quality_columns`` pattern, so composite pipelines
    (``filter_agreement``) can ride every verdict on ONE corpus scan
    instead of joining per-filter projections back on doc_id.
    ``gopher_rules`` is the DataFrame wrapper."""
    w = words(text)
    n = F.size(w)
    mean_len = F.length(F.regexp_replace(text, " ", "")) / n
    alpha_ratio = F.size(F.filter(w, lambda x: x.rlike("[A-Za-z]"))) / n
    n_stop = F.size(F.filter(w, lambda x: x.isin(*STOPWORDS_EN)))
    # top-token share without a groupBy: sort the tokens, then one
    # O(n) fold tracks the longest equal-run — per-row bounded work
    # (the (doc, token) aggregate form lives in repetition_stats; this
    # keeps the whole suite a single zero-shuffle projection)
    sorted_w = F.array_sort(w)
    zero = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )
    run_next = lambda a, x: F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1))
    top_cnt = F.aggregate(
        sorted_w,
        zero,
        lambda a, x: F.struct(
            x.alias("prev"),
            run_next(a, x).alias("run"),
            F.greatest(a["best"], run_next(a, x)).alias("best"),
        ),
        lambda a: a["best"],
    )
    lo, hi = GOPHER_MEAN_LEN_BAND
    n_words = n
    mean_word_len = F.round(mean_len, 4)
    alpha4 = F.round(alpha_ratio, 4)
    top_ratio = F.round(top_cnt / n, 4)
    ok_word_count = (n_words >= min_words) & (n_words <= max_words)
    ok_mean_word_len = (mean_word_len >= lo) & (mean_word_len <= hi)
    ok_alpha_ratio = alpha4 >= GOPHER_MIN_ALPHA_RATIO
    ok_stopwords = n_stop >= GOPHER_MIN_STOPWORDS
    ok_repetition = top_ratio <= GOPHER_MAX_TOP_TOKEN_RATIO
    return {
        "n_words": n_words,
        "mean_word_len": mean_word_len,
        "alpha_ratio": alpha4,
        "n_stopwords": n_stop,
        "top_token_ratio": top_ratio,
        "ok_word_count": ok_word_count,
        "ok_mean_word_len": ok_mean_word_len,
        "ok_alpha_ratio": ok_alpha_ratio,
        "ok_stopwords": ok_stopwords,
        "ok_repetition": ok_repetition,
        "keep": ok_word_count
        & ok_mean_word_len
        & ok_alpha_ratio
        & ok_stopwords
        & ok_repetition,
    }


def gopher_rules(
    documents: DataFrame,
    min_words: int = GOPHER_MIN_WORDS,
    max_words: int = GOPHER_MAX_WORDS,
    keep_text: bool = False,
) -> DataFrame:
    """The Gopher quality-rule suite as one verdict sheet: each rule is
    its own boolean column (so a corpus report can show WHICH rule
    rejects how much, the way the paper's ablation does), ``keep`` is
    their conjunction. Rules, per the paper's repetition/quality
    filters, restated for a single-line fixture (the line-level rules —
    bullet starts, ellipsis ends, duplicate lines — have no purchase on
    one-line docs; their span-level analogue is ``remove_boilerplate``):

    - ``ok_word_count``: word count in [min_words, max_words];
    - ``ok_mean_word_len``: mean word length in [3, 10];
    - ``ok_alpha_ratio``: ≥80% of words contain an alphabetic char;
    - ``ok_stopwords``: ≥2 stopword OCCURRENCES (the paper requires 2
      of its 8 function words; the fixture vocabulary carries the
      ``STOPWORDS_EN`` subset);
    - ``ok_repetition``: the single most frequent token accounts for
      ≤20% of the document (the top-n-gram-fraction rule at n=1).

    Scale shape: pure per-row array expressions — zero shuffles, fully
    codegen, same contract as ``quality_score``; the top-token ratio
    reuses the sorted-token trick (one array_sort per row over the
    doc's own tokens, bounded by doc length, no aggregate). The
    expressions live in ``gopher_columns`` so composites can inline
    them on one scan."""
    gq = gopher_columns(F.col("text"), min_words, max_words)
    # per-row array_sort + fold over every token: the most compute-
    # bound projection in the file -- run at session parallelism
    return spread(documents).select(
        "doc_id",
        *(["text"] if keep_text else []),
        *(gq[name].alias(name) for name in gq),
    )


# Interpolated-bigram LM: vocab truncation sized against the fixture's
# 916 bigram types so the OOV backoff path does real work; λ is the
# interpolation weight on the bigram ML term (CCNet/KenLM-style
# smoothing reduced to one interpolation level). 1-λ is spelled as its
# own constant so both engines use the identical double literal.
BIGRAM_VOCAB_K = 600
LM_LAMBDA = 0.7
LM_ONE_MINUS_LAMBDA = 0.3


def bigram_lm_score(
    documents: DataFrame,
    bigram_k: int = BIGRAM_VOCAB_K,
    unigram_k: int = LM_VOCAB_K,
) -> DataFrame:
    """Corpus-trained INTERPOLATED BIGRAM language-model scoring — one
    fidelity step above ``unigram_lm_score`` toward the KenLM filter
    CCNet runs: per document the mean negative log-likelihood of its
    bigrams under p(w2|w1) = λ·c(w1w2)/c(w1) + (1−λ)·c(w2)/N, with both
    vocabularies truncated top-K (count desc, key asc) and OOV floors
    of 0 (bigram term) / 1 (unigram counts) — the unseen-bigram backoff
    that makes the score finite everywhere. High perplexity = word
    SEQUENCES rare in the corpus, which catches shuffled/garbled text
    the unigram model scores as perfectly normal (pinned in pytest).

    Scale shape (same contract as the unigram trainer): both count
    models are single map-side-combined aggregates truncated to top-K —
    bounded by construction, broadcast regardless of corpus size; the
    scoring pass left-joins the three broadcast tables into one doc_id
    aggregate. The corpus token/bigram streams are never shuffled.
    Two sf1-measured trims (4.7 s → ~3.2 s, oracle unchanged): the
    token-type aggregate is localCheckpointed once (it is VOCAB-sized
    — Heaps-law-bounded, never corpus-sized) so its two consumers
    (top-K truncation, total-count) don't each re-run the corpus token
    pass; and the scoring side explodes straight to (w1, w2) columns —
    the "w1 w2" string exists only in the (bounded) train-side
    aggregate, so the corpus never pays concat-then-split twice."""
    toks = documents.select("doc_id", F.explode(words(F.col("text"))).alias("token"))
    uni_full = (
        toks.groupBy("token").agg(F.count("*").alias("c1")).localCheckpoint(eager=False)
    )
    uni = uni_full.orderBy(F.desc("c1"), F.asc("token")).limit(unigram_k)
    totals = uni_full.agg(F.sum("c1").alias("n_total"))
    w = words(F.col("text"))
    nw = F.size(w)
    # zip_with over shifted slices explodes straight to (w1, w2) — the
    # index-explode form copies the whole token array alongside every
    # emitted row (measured 2x slower on the PMI twin of this stream)
    bi_arr = F.when(
        nw >= 2,
        F.zip_with(
            F.slice(w, 1, nw - 1),
            F.slice(w, 2, nw - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bi2 = (
        spread(documents)
        .select("doc_id", F.explode(bi_arr).alias("_p"))
        .select("doc_id", "_p.w1", "_p.w2")
        .localCheckpoint(eager=False)
    )
    # top-K truncation keeps the oracle's (count DESC, "w1 w2" ASC)
    # tie-break, but the join-string is built on AGGREGATED vocab rows
    # only — the corpus-sized occurrence stream never concatenates
    bivocab2 = (
        bi2.groupBy("w1", "w2")
        .agg(F.count("*").alias("c2"))
        .orderBy(F.desc("c2"), F.asc(F.concat_ws(" ", "w1", "w2")))
        .limit(bigram_k)
    )
    scored = (
        bi2.join(F.broadcast(bivocab2), ["w1", "w2"], "left")
        .join(
            F.broadcast(uni.select(F.col("token").alias("w1"), F.col("c1").alias("c1_w1"))),
            "w1",
            "left",
        )
        .join(
            F.broadcast(uni.select(F.col("token").alias("w2"), F.col("c1").alias("c1_w2"))),
            "w2",
            "left",
        )
        .crossJoin(F.broadcast(totals))
    )
    p = F.lit(LM_LAMBDA) * (
        F.coalesce(F.col("c2"), F.lit(0)) / F.coalesce(F.col("c1_w1"), F.lit(1))
    ) + F.lit(LM_ONE_MINUS_LAMBDA) * (
        F.coalesce(F.col("c1_w2"), F.lit(1)) / F.col("n_total")
    )
    nll = -F.log(p)
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.count_if(F.col("c2").isNull()).alias("n_oov_bigrams"),
        F.round(F.avg(nll), 4).alias("avg_nll"),
        F.round(F.exp(F.avg(nll)), 2).alias("perplexity"),
    )


# Card-number detection: every LUHN_PLANT_MOD-th doc gains a 16-digit
# candidate derived from its doc_id (digit diversity ⇒ ~10% pass the
# checksum), so both the extraction and the mod-10 validation paths do
# real, value-oracled work on a corpus that otherwise contains no
# digit runs.
LUHN_PLANT_MOD = 11
CARD_RE = r"[0-9]{13,19}"


def _luhn_valid(s: Column) -> Column:
    """Luhn mod-10 checksum over a digit string: double every second
    digit from the RIGHT, subtract 9 when the double exceeds 9, valid
    iff the sum ≡ 0 (mod 10). Pure per-row integer fold — identical
    arithmetic in the DuckDB oracle."""
    n = F.length(s)
    total = F.aggregate(
        F.sequence(F.lit(1), n),
        F.lit(0),
        lambda acc, i: acc
        + F.when(
            (n - i) % 2 == 1,
            F.when(
                F.substring(s, i, 1).cast("int") * 2 > 9,
                F.substring(s, i, 1).cast("int") * 2 - 9,
            ).otherwise(F.substring(s, i, 1).cast("int") * 2),
        ).otherwise(F.substring(s, i, 1).cast("int")),
    )
    return total % 10 == 0


def luhn_scan(documents: DataFrame) -> DataFrame:
    """Payment-card PII detection — the checksum-validated tier above
    ``pii_redact``'s regex tier: extract 13–19-digit runs, validate
    each with the Luhn mod-10 checksum (the filter that separates card
    numbers from order ids/timestamps at ~90% rejection), report
    candidate and valid counts per document. Zero shuffles: the
    extraction is a regexp projection, validation a bounded per-row
    fold over each candidate's digits."""
    planted = F.when(
        F.col("doc_id") % LUHN_PLANT_MOD == 0,
        F.concat(
            F.col("text"),
            F.lit(" card 4"),
            F.lpad((F.col("doc_id") % F.lit(10**15)).cast("string"), 15, "0"),
        ),
    ).otherwise(F.col("text"))
    cands = F.regexp_extract_all(planted, F.lit(CARD_RE), 0)
    n_valid = F.size(F.filter(cands, _luhn_valid))
    return documents.select(
        "doc_id",
        F.size(cands).alias("n_candidates"),
        n_valid.alias("n_valid_cards"),
        (F.size(cands) > 0).alias("has_digit_run"),
    )


# C4-style URL filtering: every URL_PLANT_MOD-th doc gains a planted
# URL whose domain is derived from its doc_id, so extraction, domain
# parsing, and the blocklist join all do real value-oracled work on a
# corpus that otherwise contains no URLs (same planting pattern as
# luhn_scan).
URL_PLANT_MOD = 7
URL_RE = r"https?://[^ ]+"
URL_DOMAIN_RE = r"https?://([^/ ]+)"
URL_BLOCKLIST: tuple[str, ...] = ("dom0.example", "dom1.example", "dom2.example")


def url_domain_filter(documents: DataFrame) -> DataFrame:
    """C4-style URL/domain filtering (Raffel et al. 2020 §2.2 cleaned
    C4 uses a domain blocklist): extract URLs, parse their domains,
    flag documents whose domain set intersects the blocklist — the
    drop-before-tokenize tier every web-corpus pipeline runs first.
    Zero shuffles: regex extraction + array transforms + a LITERAL
    blocklist membership test (a real blocklist of millions of domains
    becomes a broadcast semi-join on the exploded domain column — same
    contract as contamination_check's broadcast tier)."""
    planted = F.when(
        F.col("doc_id") % URL_PLANT_MOD == 0,
        F.concat(
            F.col("text"),
            F.lit(" see http://dom"),
            (F.col("doc_id") % 20).cast("string"),
            F.lit(".example/p/"),
            F.col("doc_id").cast("string"),
        ),
    ).otherwise(F.col("text"))
    urls = F.regexp_extract_all(planted, F.lit(URL_RE), 0)
    domains = F.array_sort(
        F.array_distinct(
            F.transform(
                urls, lambda u: F.regexp_extract(u, URL_DOMAIN_RE, 1)
            )
        )
    )
    blocked = F.exists(domains, lambda d: d.isin(*URL_BLOCKLIST))
    return documents.select(
        "doc_id",
        F.size(urls).alias("n_urls"),
        F.to_json(domains).alias("domains"),
        blocked.alias("is_blocked"),
    )


# PMI collocation extraction: minimum pair count guards the log against
# hapax pairs (PMI's classic failure mode — a 1-count pair of two
# 1-count tokens maxes the score); fixture-scaled threshold, raised in
# production exactly like a Phrases/word2vec bigram pass.
PMI_MIN_COUNT = 3
PMI_TOP_K = 30


def pmi_collocations(
    documents: DataFrame, min_count: int = PMI_MIN_COUNT, top_k: int = PMI_TOP_K
) -> DataFrame:
    """Corpus collocations: the ``top_k`` adjacent-token pairs by
    pointwise mutual information (Church & Hanks 1990), the phrase-
    mining pass tokenizer/embedding pipelines run to promote "new
    york"-style units to single tokens (word2vec's Phrases scoring is
    this statistic with a different normalization).

    ``pmi = ln(c_ab * N * N / (B * c_a * c_b))`` over adjacent pairs
    within each document (pairs never cross document boundaries).

    Scale shape: ONE corpus pass builds the adjacent-pair array with
    ``zip_with`` over two shifted slices and explodes straight to
    (lhs, rhs) columns — the sf1-measured 2× winner over the
    index-explode form, whose Generate carries (copies) the whole
    token array alongside every emitted row; then a map-side-combined
    pair groupBy whose shuffle is bigram-vocabulary-bounded. Both the
    pair and unigram aggregates are VOCAB-bounded and localCheckpointed
    once, so their two consumers each (scored join + scalar total)
    never re-run a corpus explode (6.5 s → ~2.3 s at sf1). Unigram
    counts BROADCAST back onto the pair table (two broadcast hash
    joins); N and B are scalar cross-attaches. Rank orders by the
    ROUNDED pmi then the pair text, so last-ulp log drift cannot
    reorder engines; the rank window runs on the already-limited
    ``top_k`` rows."""
    base = spread(documents)
    w = words(F.col("text"))
    n = F.size(w)
    pair_arr = F.when(
        n >= 2,
        F.zip_with(
            F.slice(w, 1, n - 1),
            F.slice(w, 2, n - 1),
            lambda a, b: F.struct(a.alias("lhs"), b.alias("rhs")),
        ),
    ).otherwise(F.array().cast("array<struct<lhs:string,rhs:string>>"))
    pairs = base.select(F.explode(pair_arr).alias("p")).select("p.lhs", "p.rhs")
    big = (
        pairs.groupBy("lhs", "rhs")
        .agg(F.count("*").alias("n_pair"))
        .localCheckpoint(eager=False)
    )
    toks = base.select(F.explode(w).alias("token"))
    uni = (
        toks.groupBy("token")
        .agg(F.count("*").alias("n_tok"))
        .localCheckpoint(eager=False)
    )
    n_tokens = uni.agg(F.sum("n_tok").alias("n_tokens"))
    n_pairs = big.agg(F.sum("n_pair").alias("n_pairs"))
    pmi = F.log(
        (F.col("n_pair").cast("double") * F.col("n_tokens") * F.col("n_tokens"))
        / (F.col("n_pairs").cast("double") * F.col("n_lhs") * F.col("n_rhs"))
    )
    # NOT force-broadcast: uni is full-vocabulary (Heaps-law unbounded
    # at 100 TB) — AQE broadcasts it at fixture scale, and at scale
    # this is a vocab-keyed shuffle join of two vocab-bounded sides
    scored = (
        big.where(F.col("n_pair") >= min_count)
        .join(uni.select(F.col("token").alias("lhs"), F.col("n_tok").alias("n_lhs")), "lhs")
        .join(uni.select(F.col("token").alias("rhs"), F.col("n_tok").alias("n_rhs")), "rhs")
        .crossJoin(F.broadcast(n_tokens))
        .crossJoin(F.broadcast(n_pairs))
        .select(
            "lhs",
            "rhs",
            "n_pair",
            "n_lhs",
            "n_rhs",
            F.round(pmi, 4).alias("pmi"),
        )
    )
    topk = scored.orderBy(F.desc("pmi"), "lhs", "rhs").limit(top_k)
    rw = Window.orderBy(F.desc("pmi"), "lhs", "rhs")
    return topk.select(
        F.row_number().over(rw).cast("long").alias("pair_rank"),
        "lhs",
        "rhs",
        "n_pair",
        "n_lhs",
        "n_rhs",
        "pmi",
    )


# Count-min sketch: fixed (depth × width) counter grid — the bounded-
# memory frequency tracker for streams/corpora whose vocabulary cannot
# be held exactly (CMS overestimate bound: err <= e/width · N with
# prob 1 - e^-depth). Fixture-scaled grid; production widens width.
CMS_WIDTH = 512
CMS_DEPTH = 4
CMS_TOP_K = 20


def _cms_bucket(token: Column, row: int, width: int) -> Column:
    """Row-``row``'s bucket for a token: a 52-bit md5 slice mod width —
    content-stable and engine-reproducible (the same determinism
    contract as weighted_sample's u and the MinHash md5 family; swap
    xxhash64 in production exactly like dedup's hash-family twin)."""
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit(f"cms{row}"), token)), 1, 13),
        16,
        10,
    ).cast("long")
    return h % width  # h is a nonneg 52-bit value: plain mod suffices


def cms_heavy_hitters(
    documents: DataFrame,
    width: int = CMS_WIDTH,
    depth: int = CMS_DEPTH,
    top_k: int = CMS_TOP_K,
) -> DataFrame:
    """Count-min-sketch token frequencies (Cormode & Muthukrishnan
    2005) checked against the exact heavy hitters: build the
    depth×width counter grid in one corpus pass, then read back the
    estimate (min over rows of the token's bucket counts) for the
    exact top-``top_k`` tokens. Output (token, exact_count,
    cms_estimate) — ``cms_estimate >= exact_count`` ALWAYS (one-sided
    error), with the overestimate bounded by colliding tail mass.

    Why it matters at 100 TB: the exact token count needs a
    vocabulary-sized aggregate; the sketch is a CONSTANT depth×width
    grid (here 4×512 longs) whatever the corpus size — the frequency
    state a streaming ingest can keep per micro-batch and merge by
    cell-wise addition (CMS is a linear sketch; the same argument as
    the HLL reach rollup, `operators/sketches.py`).

    Plan (compaction-first, the bpe_pair_counts lesson): ONE token
    pass builds the exact (token, count) vocab aggregate —
    checkpointed, since the grid and the top-k grader both read it —
    and the grid then hashes each DISTINCT token once, weighting its
    cell contribution by the exact count (integer sums: cell values
    identical to the per-occurrence form). The r14 before-plan ran
    the tokenize pass twice and paid depth md5s per token OCCURRENCE;
    hashing the vocab instead costs depth md5s per distinct token
    (1.22 s → 0.89 s median at sf0.1). The grid aggregate's shuffle
    stays bounded by depth×width regardless of corpus size; the
    2k-cell lookup joins the BROADCAST grid. The exact aggregate here
    exists only to GRADE the sketch — a pure production deployment
    keeps the grid alone (``_cms_grid``)."""
    toks = spread(documents).select(F.explode(words(F.col("text"))).alias("token"))
    exact = (
        toks.groupBy("token")
        .agg(F.count("*").alias("exact_count"))
        .localCheckpoint(eager=False)
    )
    cells = exact.select(
        "exact_count",
        F.posexplode(
            F.array(*[_cms_bucket(F.col("token"), r, width) for r in range(depth)])
        ).alias("row", "bucket"),
    )
    grid = cells.groupBy("row", "bucket").agg(F.sum("exact_count").alias("c"))
    topk = exact.orderBy(F.desc("exact_count"), F.asc("token")).limit(top_k)
    probe = topk.select(
        "token",
        "exact_count",
        F.posexplode(
            F.array(*[_cms_bucket(F.col("token"), r, width) for r in range(depth)])
        ).alias("row", "bucket"),
    )
    return (
        probe.join(F.broadcast(grid), ["row", "bucket"])
        .groupBy("token", "exact_count")
        .agg(F.min("c").alias("cms_estimate"))
    )


CMS_BATCH_MOD = 4  # incremental-maintenance split (the LSH/IVF invariant)


def _cms_grid(documents: DataFrame, width: int, depth: int) -> DataFrame:
    """The depth×width counter grid for a document set — the reusable
    half of ``cms_heavy_hitters``. Compaction-first like the main row:
    count tokens exactly (vocab-bounded aggregate), then hash each
    DISTINCT token once with its count as the cell weight — integer
    sums, so the grid is cell-for-cell identical to the
    per-occurrence form at depth× fewer md5 calls."""
    toks = spread(documents).select(F.explode(words(F.col("text"))).alias("token"))
    tc = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    cells = tc.select(
        "cnt",
        F.posexplode(
            F.array(*[_cms_bucket(F.col("token"), r, width) for r in range(depth)])
        ).alias("row", "bucket"),
    )
    return cells.groupBy("row", "bucket").agg(F.sum("cnt").alias("c"))


def cms_grid_incremental(spark, sf_dir: str) -> DataFrame:
    """Incremental count-min-sketch maintenance, exercised end-to-end:
    persist the grid for the base corpus (doc_id % CMS_BATCH_MOD != 0),
    then fold in the held-out batch by appending ITS partial grid and
    summing cells at read — CMS is a LINEAR sketch, so per-batch grids
    merged cell-wise equal the from-scratch grid EXACTLY. The DuckDB
    oracle recomputes the grid over ALL documents, so the hash match
    proves merge ≡ rebuild — the invariant that lets a streaming
    ingest keep corpus-wide token frequencies as a constant-size state
    (same argument as the HLL reach rollup; same test shape as the
    LSH/IVF index-maintenance rows). Only the batch is re-tokenized;
    history is never re-scanned."""
    from ad_data_lake_spark.scratch import scratch_dir
    from ad_data_lake_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    path = scratch_dir(spark, "cms-grid", sf_dir)

    base = docs.where(F.col("doc_id") % CMS_BATCH_MOD != 0)
    batch = docs.where(F.col("doc_id") % CMS_BATCH_MOD == 0)
    _cms_grid(base, CMS_WIDTH, CMS_DEPTH).write.parquet(path)
    _cms_grid(batch, CMS_WIDTH, CMS_DEPTH).write.mode("append").parquet(path)
    return (
        spark.read.parquet(path)
        .groupBy("row", "bucket")
        .agg(F.sum("c").alias("c"))
    )


def lang_quality_calibration(
    documents: DataFrame | None = None, base: DataFrame | None = None
) -> DataFrame:
    """Per-LANGUAGE quality calibration: a single global band on a
    quality signal mis-fires across languages (mean token length is
    genuinely different in zh vs en — a threshold tuned on English
    flags healthy Chinese text), so production filters calibrate
    per-language percentile bands (CCNet trains one LM per language
    for the same reason). Output: each document's mean token length
    against its OWN language's exact p10/p90 band, with the outlier
    verdict.

    Scale shape: one projection + one language-keyed percentile
    aggregate whose output is LANGUAGE-bounded by construction (one
    row per language — broadcastable at any corpus size) joined back
    onto the scan. Spark's exact ``percentile`` matches DuckDB's
    ``quantile_cont`` interpolation bit-for-bit on double inputs (the
    perplexity_buckets contract), and both sides compare the same
    4-dp-rounded values, so the verdict is engine-reproducible. At
    100 TB swap ``percentile`` for ``approx_percentile`` (the A11
    sketch path) — the band moves by the sketch tolerance, the plan
    is identical.

    ``base`` (optional) supplies an already-built (doc_id, lang,
    mean_token_len, *extras) frame — composites (``filter_agreement``)
    pass their single-scan projection so every verdict shares one
    corpus pass; extras ride through the output. When built here, the
    base is lazily checkpointed: it feeds BOTH the percentile
    aggregate and the verdict join, and the two subtrees canonicalize
    differently after pruning, so without the cut the scoring
    projection ran twice (the perplexity_buckets pattern; 12 B/doc)."""
    if base is None:
        qc = quality_columns(F.col("text"))
        base = spread(documents).select(
            "doc_id", "lang", qc["mean_token_len"].alias("mean_token_len")
        ).localCheckpoint(eager=False)
    th = base.groupBy("lang").agg(
        F.round(F.expr("percentile(mean_token_len, 0.1)"), 4).alias("lang_p10"),
        F.round(F.expr("percentile(mean_token_len, 0.9)"), 4).alias("lang_p90"),
    )
    return base.join(F.broadcast(th), "lang").select(
        *base.columns,
        "lang_p10",
        "lang_p90",
        (
            (F.col("mean_token_len") < F.col("lang_p10"))
            | (F.col("mean_token_len") > F.col("lang_p90"))
        ).alias("is_outlier"),
    )


def filter_agreement(documents: DataFrame) -> DataFrame:
    """Pairwise agreement matrix between the rule-based quality
    filters (composite quality score, Gopher rule suite, per-language
    calibration band) — the analysis a curation team runs before
    picking a filter stack: high agreement means a filter adds no
    information; low agreement with similar keep rates means the
    filters reject DIFFERENT documents and should be ablated
    separately (the Gopher paper's per-rule ablation, lifted to
    whole-filter granularity).

    Output: one row per unordered filter pair with doc counts,
    agreement rate, and each filter's keep rate.

    Scale shape: ALL THREE verdicts ride one corpus scan — the Gopher
    suite and the composite score are pure column expressions
    (``gopher_columns`` / ``quality_columns``) projected alongside the
    calibration input, and the language-percentile band broadcasts
    back over the same (checkpointed) projection via
    ``lang_quality_calibration(base=...)``. The r14 rewrite replaced
    three separate verdict scans joined pairwise on doc_id (4 corpus
    passes + 2 doc-sized joins in the before-plan) with one scan, one
    language aggregate, one broadcast join. Then a literal 3-pair
    explode and ONE tiny aggregate whose output is pair-bounded
    (3 rows). Nothing here grows with corpus size except the single
    verdict scan."""
    gq = gopher_columns(F.col("text"), min_words=40, max_words=90)
    qc = quality_columns(F.col("text"))
    base = (
        spread(documents)
        .select(
            "doc_id",
            "lang",
            qc["mean_token_len"].alias("mean_token_len"),
            qc["keep"].alias("f_quality"),
            gq["keep"].alias("f_gopher"),
        )
        .localCheckpoint(eager=False)
    )
    v = lang_quality_calibration(base=base).select(
        "doc_id",
        "f_quality",
        "f_gopher",
        (~F.col("is_outlier")).alias("f_lang_calib"),
    )
    pair = lambda an, bn, a, b: F.struct(
        F.lit(an).alias("filter_a"),
        F.lit(bn).alias("filter_b"),
        F.col(a).alias("a"),
        F.col(b).alias("b"),
    )
    pairs = v.select(
        F.explode(
            F.array(
                pair("quality", "gopher", "f_quality", "f_gopher"),
                pair("quality", "lang_calib", "f_quality", "f_lang_calib"),
                pair("gopher", "lang_calib", "f_gopher", "f_lang_calib"),
            )
        ).alias("p")
    ).select("p.*")
    agg = pairs.groupBy("filter_a", "filter_b").agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(F.col("a") == F.col("b"), 1)).alias("n_agree"),
        F.round(F.avg(F.col("a").cast("double")), 4).alias("keep_rate_a"),
        F.round(F.avg(F.col("b").cast("double")), 4).alias("keep_rate_b"),
    )
    return agg.withColumn(
        "agreement_rate", F.round(F.col("n_agree") / F.col("n_docs"), 4)
    )
