"""Property tests for the pure scale-rule helpers (hypothesis) and a
randomized cross-check of the distributed connected-components operator
against a reference union-find — correctness hardening for the code
paths whose inputs the fixtures only sample."""

from __future__ import annotations

import random

from hypothesis import given, settings
from hypothesis import strategies as st

from ad_data_lake_spark.incremental import (
    MERGE_BUCKET_TARGET_BYTES,
    N_MERGE_BUCKETS,
    _MAX_MERGE_BUCKETS,
    buckets_for_bytes,
)
from ad_data_lake_spark.llm.similarity import IVF_CELLS, ivf_cells_for
from ad_data_lake_spark.sources.tables import _parse_bytes
from tests.media_fixtures import encode_webp


@given(st.integers(min_value=-(10**6), max_value=10**18))
@settings(max_examples=300, deadline=None)
def test_buckets_for_bytes_invariants(nbytes):
    b = buckets_for_bytes(nbytes)
    assert N_MERGE_BUCKETS <= b <= _MAX_MERGE_BUCKETS
    assert b & (b - 1) == 0, "bucket count must be a power of two"
    if nbytes > 0 and b < _MAX_MERGE_BUCKETS:
        # under the cap, each bucket holds at most the target bytes
        assert nbytes / b <= MERGE_BUCKET_TARGET_BYTES


@given(st.integers(min_value=0, max_value=10**14), st.integers(min_value=0, max_value=10**14))
@settings(max_examples=200, deadline=None)
def test_buckets_for_bytes_monotone(a, b):
    lo, hi = sorted((a, b))
    assert buckets_for_bytes(lo) <= buckets_for_bytes(hi)


@given(st.integers(min_value=-100, max_value=10**12))
@settings(max_examples=300, deadline=None)
def test_ivf_cells_invariants(n):
    c = ivf_cells_for(n)
    assert c >= IVF_CELLS
    assert c & (c - 1) == 0
    if n > IVF_CELLS**2:
        # cells ≈ √n within the pow2 rounding: occupancy n/c ≤ 2√n·√2
        assert n / c <= 2.9 * (n**0.5)


@given(
    st.integers(min_value=0, max_value=10**9),
    st.sampled_from(["b", "k", "m", "g", "t"]),
)
@settings(max_examples=100, deadline=None)
def test_parse_bytes_units(v, unit):
    mult = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}[unit]
    assert _parse_bytes(f"{v}{unit}") == v * mult
    assert _parse_bytes(str(v)) == v


def test_min_label_components_matches_union_find(spark):
    """Distributed min-label propagation vs a reference union-find on a
    seeded random graph (chains, stars, cycles, isolated pairs): every
    vertex that appears in an edge must get the minimum vertex id of
    its component — including chain graphs whose diameter exercises
    multiple propagation rounds."""
    from ad_data_lake_spark.llm.dedup import min_label_components

    rng = random.Random(20240814)
    n = 120
    edges = set()
    # random sparse edges + one long chain (diameter ~ 15) + a star
    for _ in range(80):
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    chain = list(range(100, 116))
    edges.update((a, b) for a, b in zip(chain, chain[1:]))
    edges.update((0, k) for k in (30, 60, 90))
    pairs = spark.createDataFrame(
        [(a, b) for a, b in sorted(edges)], "doc_a long, doc_b long"
    )
    got = {r.doc_id: r.label for r in min_label_components(pairs).collect()}
    # reference labels via union-find with min-root merging
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {v for e in edges for v in e}
    want = {v: find(v) for v in touched}
    assert got == want


def test_star_components_matches_union_find(spark):
    """Same randomized union-find cross-check for the log-round
    alternating-star variant — one seeded graph mixing sparse random
    edges, a chain, and a star hub."""
    from ad_data_lake_spark.llm.dedup import star_components

    rng = random.Random(20250814)
    n = 120
    edges = set()
    for _ in range(80):
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    chain = list(range(100, 116))
    edges.update((a, b) for a, b in zip(chain, chain[1:]))
    edges.update((0, k) for k in (30, 60, 90))
    pairs = spark.createDataFrame(
        [(a, b) for a, b in sorted(edges)], "doc_a long, doc_b long"
    )
    got = {r.doc_id: r.label for r in star_components(pairs).collect()}
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {v for e in edges for v in e}
    want = {v: find(v) for v in touched}
    assert got == want


def test_dynamic_json_sanitize_idempotent(spark):
    """sanitize(sanitize(x)) == sanitize(x): the canonical form is a
    fixpoint — autocast numerics re-parse as numbers, normalized
    collections re-normalize to themselves, sorted keys stay sorted.
    Randomized payloads over the rule-relevant alphabet (digit
    strings, paddings, empties, id-keys, collections, nesting)."""
    import json as _json

    from pyspark.sql import functions as F

    from ad_data_lake_spark.functions.dynamic_json import sanitize_json_fragment

    rng = random.Random(7)
    vals = ['"007"', '" 12.5"', '""', '"x y"', '"true"', "3", '"-8"',
            '[" a ","","b"]', '{"inner_id":"05","w":" 9.25"}', '"1e3"']
    keys = ["alpha", "beta_id", "special_ad_categories", "gamma", "n_items", "zz"]
    rows = []
    for _ in range(40):
        ks = rng.sample(keys, rng.randrange(1, len(keys) + 1))
        body = ",".join(f'"{k}":{rng.choice(vals)}' for k in ks)
        rows.append(("{" + body + "}",))
    df = spark.createDataFrame(rows, "payload string")
    once = sanitize_json_fragment(F.col("payload"))
    out = df.select(
        once.alias("s1"),
        sanitize_json_fragment(once).alias("s2"),
    ).collect()
    for r in out:
        assert r.s1 == r.s2, f"not a fixpoint: {r.s1!r} -> {r.s2!r}"
        _json.loads(r.s1)  # and the canonical form is valid JSON


@given(
    st.lists(
        st.lists(
            st.floats(
                min_value=-10, max_value=10, allow_nan=False, allow_infinity=False
            ),
            min_size=4,
            max_size=16,
        ).filter(lambda v: any(abs(x) > 1e-9 for x in v)),
        min_size=1,
        max_size=20,
    )
)
@settings(max_examples=200, deadline=None)
def test_int8_quantization_properties(vectors):
    """_quantize_int8_np: codes bounded to ±127, reconstruction error
    per component ≤ scale/2 (round-to-nearest guarantee), and the code
    of the max-|x| component is exactly ±127."""
    import numpy as np

    from ad_data_lake_spark.llm.similarity import INT8_EPS, _quantize_int8_np

    dim = min(len(v) for v in vectors)
    V = np.array([v[:dim] for v in vectors], dtype=np.float64)
    C = _quantize_int8_np(V)
    assert np.abs(C).max() <= 127
    sc = np.maximum(np.abs(V).max(axis=1) / 127.0, INT8_EPS)
    err = np.abs(C * sc[:, None] - V)
    assert (err <= sc[:, None] / 2 + 1e-12).all()
    # the extreme component hits full scale exactly; a (near-)zero
    # vector quantizes to all-zero codes via the eps floor, not NaN
    for i in range(len(V)):
        j = np.argmax(np.abs(V[i]))
        if abs(V[i][j]) >= INT8_EPS * 127:
            assert abs(C[i][j]) == 127
        else:
            assert np.isfinite(C[i]).all()


@given(
    st.lists(st.integers(min_value=1, max_value=5000), min_size=64, max_size=400),
    st.integers(min_value=2, max_value=8),
)
@settings(max_examples=100, deadline=None)
def test_serpentine_deal_balance_property(sizes, n_shards):
    """The serpentine (boustrophedon) deal shard_assign uses: within a
    sorted group, shard totals differ by at most the largest item —
    strictly tighter than plain round-robin's worst case on sorted
    input, and independent of list length."""
    order = sorted(range(len(sizes)), key=lambda i: (-sizes[i], i))
    totals = [0] * n_shards
    for rank, i in enumerate(order):
        pos = rank % (2 * n_shards)
        shard = pos if pos < n_shards else 2 * n_shards - 1 - pos
        totals[shard] += sizes[i]
    assert max(totals) - min(totals) <= max(sizes)


@given(
    st.lists(
        st.text(
            alphabet=st.sampled_from(list("ab \t\n\r\x0b\x0c.x")),
            max_size=30,
        )
        | st.none(),
        min_size=1,
        max_size=12,
    ),
    st.integers(min_value=0, max_value=50),
)
@settings(max_examples=200, deadline=None)
def test_arrow_tf_kernel_matches_counter_reference(texts, index_offset):
    """The vectorized pandas tokenize-count kernel (BM25 postings) must
    reproduce a plain Counter over ASCII-\\s+ split for ARBITRARY text
    — including whitespace-only, empty, and None rows, and a
    non-default pandas index (the dl alignment via .map is the risky
    vectorized step). Pure-Python: no Spark session needed."""
    import re
    from collections import Counter

    import pandas as pd

    from ad_data_lake_spark.llm.retrieval import _tf_partials

    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
        },
        index=range(index_offset, index_offset + len(texts)),
    )
    got = {}
    for out in _tf_partials(iter([pdf])):
        for r in out.itertuples(index=False):
            got[(r.doc_id, r.token)] = (r.tf, r.dl)

    expect = {}
    for doc_id, text in zip(range(len(texts)), texts):
        if text is None:
            continue
        toks = re.split(r"\s+", text.strip(" "), flags=re.ASCII)
        c = Counter(toks)
        for tok, tf in c.items():
            expect[(doc_id, tok)] = (tf, len(toks))
    assert got == expect


def test_arrow_tf_kernel_tolerates_duplicate_doc_ids():
    """A batch with DUPLICATE doc_id rows (malformed input) must yield
    per-row postings — never the opaque pandas InvalidIndexError the
    Series-indexed dl mapping used to raise mid-Arrow-pass."""
    import pandas as pd

    from ad_data_lake_spark.llm.retrieval import _tf_partials

    pdf = pd.DataFrame({"doc_id": [7, 7, 8], "text": ["a b a", "c", "a"]})
    out = pd.concat(list(_tf_partials(iter([pdf]))), ignore_index=True)
    rows = {
        (r.doc_id, r.token, r.tf, r.dl) for r in out.itertuples(index=False)
    }
    assert rows == {(7, "a", 2, 3), (7, "b", 1, 3), (7, "c", 1, 1), (8, "a", 1, 1)}


@given(
    st.integers(min_value=1, max_value=11),
    st.integers(min_value=1, max_value=9),
    st.sampled_from([3, 4]),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=60, deadline=None)
def test_webp_roundtrip_property(w, h, channels, seed):
    """VP8L is lossless: ANY image round-trips encode→decode bit-exactly,
    and the encoder is deterministic."""
    import numpy as np

    from ad_data_lake_spark.llm import webp_codec as WC

    rng = np.random.RandomState(seed)
    px = rng.randint(0, 256, (h, w, channels)).astype(np.uint8).tobytes()
    data = encode_webp(px, w, h, channels)
    assert encode_webp(px, w, h, channels) == data
    W, H, C, out = WC.decode_webp(data)
    assert (W, H, C, out) == (w, h, channels, px)
    assert WC.parse_webp_dims(data) == (w, h)


@given(
    st.integers(min_value=0, max_value=2**32 - 1),
    st.integers(min_value=0, max_value=255),
    st.data(),
)
@settings(max_examples=80, deadline=None)
def test_webp_corruption_never_escapes_valueerror(seed, flip_to, data_st):
    """The batch-safety contract as a property: flip ONE byte anywhere
    in a valid WebP stream and decode either succeeds (benign byte —
    e.g. RIFF size padding) or raises ValueError. Any OTHER exception
    (KeyError, IndexError, struct.error, MemoryError, infinite loop)
    would kill a whole Arrow batch in resize_assets."""
    import numpy as np

    from ad_data_lake_spark.llm import webp_codec as WC

    rng = np.random.RandomState(seed)
    px = rng.randint(0, 256, (5, 7, 3)).astype(np.uint8).tobytes()
    good = bytearray(encode_webp(px, 7, 5, 3))
    pos = data_st.draw(st.integers(min_value=0, max_value=len(good) - 1))
    good[pos] = flip_to
    try:
        W, H, C, out = WC.decode_webp(bytes(good))
        assert 1 <= W <= 16384 and 1 <= H <= 16384 and C in (3, 4)
        assert len(out) == W * H * C
    except ValueError:
        pass  # the contract: ValueError or a well-formed result, nothing else


@given(
    st.lists(
        st.one_of(
            st.tuples(st.just("publish"), st.booleans()),  # stale snapshot?
            st.tuples(st.just("vacuum"), st.integers(min_value=1, max_value=4)),
        ),
        min_size=1,
        max_size=25,
    ),
    st.integers(min_value=1, max_value=5),
)
@settings(max_examples=60, deadline=None)
def test_commit_protocol_invariants_under_random_schedules(ops, retain):
    """Any sequence of publishes (some deliberately over a stale
    snapshot: one read before the latest commit, a publish or a vacuum)
    and vacuums preserves the commit-state invariants: versions unique,
    current is the log's last entry, log length bounded by the largest
    retention used, and a stale-snapshot publish NEVER lands."""
    from ad_data_lake_spark.commit_protocol import (
        COMMIT_KEY,
        CommitState,
        ConcurrentWriteError,
        MemoryConditionalStore,
        cas_publish,
        commit_state,
        read_snapshot,
    )

    store = MemoryConditionalStore()
    current = None
    stale = None  # a snapshot read before the latest commit
    seq = 0
    max_retain = retain
    for op in ops:
        if op[0] == "publish":
            use_stale = op[1] and stale is not None
            snap = stale if use_stale else read_snapshot(store)
            name = f"v-{seq:04d}"
            try:
                cas_publish(store, snap, name, retain=retain)
                assert not use_stale, "stale-snapshot publish landed"
                current = name
                seq += 1
                stale = snap
            except ConcurrentWriteError:
                assert use_stale, "fresh-snapshot publish was rejected"
        else:
            snap = read_snapshot(store)
            if snap.etag is None:
                continue
            state = snap.state
            keep = state.published()[-op[1]:]
            if state.current is not None and state.current not in keep:
                keep = keep + [state.current]
            commit_state(
                store,
                snap,
                CommitState(tuple(keep), state.current, state.n_buckets),
            )
            stale = snap
            max_retain = max(max_retain, op[1])
        got = store.get(COMMIT_KEY)
        if got is not None:
            state = CommitState.from_bytes(got[0])
            assert len(set(state.versions)) == len(state.versions)
            assert state.current == (
                state.versions[-1] if state.versions else None
            )
            assert len(state.versions) <= max(max_retain, retain) + 1
            assert state.current == current


def test_dynamic_json_python_twin_byte_equal(spark):
    """The Arrow-batched Python sanitizer (r15, the benched path) must
    stay BYTE-identical to the Catalyst expression form (the reference
    twin) — adversarial payloads over the rule alphabet: invalid JSON,
    bare/array/null top levels, NaN/Infinity literals (Jackson's
    ALLOW_NON_NUMERIC_NUMBERS accepts them in from_json, and both twins
    render them as quoted strings such as ``"NaN"``), duplicate keys,
    unicode escapes, scalar strings that LOOK like objects/arrays,
    nested drift at every depth, big integers, and the fixture
    template's own shapes."""
    import random

    from pyspark.sql import functions as F

    from ad_data_lake_spark.functions.dynamic_json import sanitize_json_fragment
    from ad_data_lake_spark.functions.dynamic_json_py import _sanitize

    fixed = [
        "not json at all",
        "",
        "null",
        "3",
        '[1,2]',
        '{"a": NaN}',
        '{"a": Infinity}',
        '{"dup": 1, "dup": 2}',
        '{"u": "\\u00e9", "esc": "says \\"hi\\" a\\\\b"}',
        '{"s": "{looks like obj", "t": "[looks like arr"}',
        '{"s": "{\\"campaign_id\\": \\" 7 \\", \\"pad\\": \\"007\\"}"}',
        '{"special_ad_categories": "[\\" A \\", \\"\\"]"}',
        '{"special_ad_categories": [" A ", "", 12, null, {"o":1}]}',
        '{"special_ad_categories": "[broken"}',
        '{"big": 123456789012345678901234567890}',
        '{"n18": "999999999999999999", "n19": "9999999999999999999"}',
        '{"a": {"b": {"c": {"d": {"e": "deep"}}}}}',
        '{"x_id": 5, "y_ids": " 6 ", "id": "007"}',
        '{"v": " -00012 ", "w": "-1.50", "t": " true", "f": "false"}',
        '{"levels": [ {"o": 1}, [2], "s" ]}',
        '{"a": 1.5, "b": {"k": 2}, "c": true, "d": null, "e": ""}',
        '{"empty_obj": {}, "empty_arr": []}',
    ]
    rng = random.Random(15)
    vals = ['"007"', '" 12.5"', '""', '"x y"', '"true"', "3", '"-8"',
            '[" a ","","b"]', '{"inner_id":"05","w":" 9.25"}', '"1e3"',
            '{"deep":{"deeper":{"deepest":"v","pad":"01"}}}', "null", "true"]
    keys = ["alpha", "beta_id", "special_ad_categories", "gamma", "n_items",
            "zz", "brand_safety_content_filter_levels", "account_id"]
    payloads = list(fixed)
    for _ in range(60):
        ks = rng.sample(keys, rng.randrange(1, len(keys) + 1))
        body = ",".join(f'"{k}":{rng.choice(vals)}' for k in ks)
        payloads.append("{" + body + "}")

    df = spark.createDataFrame([(p,) for p in payloads], "payload string")
    ref = [
        r.s
        for r in df.select(
            sanitize_json_fragment(F.col("payload")).alias("s")
        ).collect()
    ]
    got = [_sanitize(p) for p in payloads]
    for p, a, b in zip(payloads, ref, got):
        assert a == b, f"twin diverged on {p!r}:\n catalyst={a!r}\n python={b!r}"
