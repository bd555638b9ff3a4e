"""Hypothesis property tests for the pure (non-Spark) hot kernels.

These pin the on-disk codec contracts (SURVEY.md §2.B4) and the vectorized
hash/extract kernels against randomized inputs — the fixture-based tests
cover known shapes; these cover the shapes nobody thought of. All tests are
numpy/pure-Python only (no SparkSession), so the whole module runs in
seconds and is safe to widen with more examples.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from defactonlp_spark.config import EngineConfig
from defactonlp_spark.functions.extract import extract_text_one
from defactonlp_spark.functions.mmh3 import murmur3_32
from defactonlp_spark.functions.varbyte import (
    delta_decode,
    delta_encode,
    vb_decode,
    vb_encode,
)
from defactonlp_spark.operators.segments import (
    bm25_contrib,
    decode_slice,
    encode_slice,
    idf,
)

# values at/around every 7-bit group boundary, where vbyte length changes
_BOUNDARY = sorted(
    {0, 1}
    | {(1 << (7 * k)) + d for k in range(1, 9) for d in (-1, 0, 1)}
    | {(1 << 63) - 1}
)

uint63 = st.integers(min_value=0, max_value=(1 << 63) - 1)
uint63_arrays = st.lists(
    st.one_of(uint63, st.sampled_from(_BOUNDARY)), min_size=0, max_size=400
).map(lambda xs: np.asarray(xs, dtype=np.uint64))


@given(uint63_arrays)
@settings(deadline=None)  # first-call numpy warmup under full-suite load
def test_vbyte_roundtrip(values):
    buf = vb_encode(values)
    out = vb_decode(buf, n_values=values.size)
    assert out.dtype == np.uint64
    np.testing.assert_array_equal(out, values)


@given(uint63_arrays)
@settings(deadline=None)
def test_vbyte_roundtrip_without_count(values):
    # decode must also work with no expected-count hint (merge path)
    out = vb_decode(vb_encode(values))
    np.testing.assert_array_equal(out, values)


@given(uint63_arrays)
def test_vbyte_encoding_is_minimal(values):
    # pinned format: ceil(bitlen/7) bytes per value, 1 byte for zero
    expect = sum(max(1, -(-int(v).bit_length() // 7)) for v in values)
    assert len(vb_encode(values)) == expect


def test_vbyte_rejects_2_63():
    with pytest.raises(ValueError):
        vb_encode(np.asarray([1 << 63], dtype=np.uint64))


@given(
    st.lists(st.integers(min_value=0, max_value=1 << 40), min_size=1, max_size=300),
    st.integers(min_value=0, max_value=1 << 20),
)
def test_delta_roundtrip(ids, base_gap):
    # strictly increasing ids at/above base (delta_encode's documented domain)
    arr = np.cumsum(np.asarray(sorted(set(ids)), dtype=np.int64) + 1)
    base = int(arr[0]) - 1 - base_gap
    gaps = delta_encode(arr, base=base)
    np.testing.assert_array_equal(delta_decode(gaps, base=base), arr)


def test_delta_rejects_unsorted():
    with pytest.raises(ValueError):
        delta_encode(np.asarray([5, 3], dtype=np.int64))


slice_inputs = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=1 << 32),  # doc-id gaps
        st.integers(min_value=1, max_value=5000),  # tf
        st.integers(min_value=1, max_value=100_000),  # dl
    ),
    min_size=1,
    max_size=600,
)


@given(slice_inputs, st.integers(min_value=2, max_value=64))
@settings(deadline=None, max_examples=60)
def test_encode_decode_slice_roundtrip(rows, block_size):
    gaps = np.asarray([r[0] for r in rows], dtype=np.int64)
    doc_ids = np.cumsum(gaps)
    tfs = np.asarray([r[1] for r in rows], dtype=np.int64)
    dls = np.asarray([r[2] for r in rows], dtype=np.int64)
    cfg = EngineConfig(block_size=block_size)
    n_docs = doc_ids.size + 10
    seg = encode_slice(doc_ids, tfs, dls, term_df=doc_ids.size, n_docs=n_docs,
                       avgdl=float(dls.mean()), cfg=cfg)
    d, t, l = decode_slice(seg)
    np.testing.assert_array_equal(d, doc_ids)
    np.testing.assert_array_equal(t, tfs)
    np.testing.assert_array_equal(l, dls)

    # block-max invariants the WAND planner relies on: blocks tile the
    # posting list in order, last_doc_id is each block's max id, and
    # max_score is the exact max of the BM25 contributions in the block
    assert seg["n_blocks"] == -(-doc_ids.size // block_size)
    scores = bm25_contrib(tfs, dls, float(idf(doc_ids.size, n_docs)),
                          float(dls.mean()), cfg.bm25)
    for k in range(seg["n_blocks"]):
        lo, hi = k * block_size, min((k + 1) * block_size, doc_ids.size)
        bm = seg["blockmax"][k]
        assert bm["last_doc_id"] == int(doc_ids[hi - 1])
        assert bm["max_score"] == pytest.approx(float(scores[lo:hi].max()))
    assert seg["blockmax"][-1]["last_doc_id"] == int(doc_ids[-1])


# -- murmur3_32: vectorized same-length batching vs a scalar reference ------


def _mmh3_scalar(data: bytes, seed: int = 0) -> int:
    """Textbook MurmurHash3 x86_32 (Austin Appleby's public domain spec)."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    rotl = lambda x, r: ((x << r) | (x >> (32 - r))) & 0xFFFFFFFF
    nblocks = len(data) // 4
    for i in range(nblocks):
        k = int.from_bytes(data[i * 4 : i * 4 + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = (rotl(k, 15) * c2) & 0xFFFFFFFF
        h ^= k
        h = (rotl(h, 13) * 5 + 0xE6546B64) & 0xFFFFFFFF
    k = 0
    tail = data[nblocks * 4 :]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & 0xFFFFFFFF
        k = (rotl(k, 15) * c2) & 0xFFFFFFFF
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


@given(st.lists(
           # no lone surrogates (Cs): terms come from DECODED utf-8 corpus
           # text, where they cannot occur; they'd only crash the test's
           # own scalar-reference .encode()
           st.text(alphabet=st.characters(blacklist_categories=("Cs",)),
                   max_size=40),
           min_size=1, max_size=50),
       st.integers(min_value=0, max_value=2**31 - 1))
@settings(deadline=None, max_examples=80)
def test_murmur3_32_matches_scalar_reference(strings, seed):
    got = murmur3_32(strings, seed=seed)
    expect = np.asarray(
        [_mmh3_scalar(s.encode("utf-8"), seed) for s in strings], dtype=np.uint32
    )
    np.testing.assert_array_equal(got.astype(np.uint32), expect)


# -- HTML extractor: total on arbitrary bytes, idempotent-ish invariants ----


@given(st.binary(max_size=400))
@settings(deadline=None)
def test_extract_total_on_arbitrary_bytes(raw):
    out = extract_text_one(raw)
    # contract: None for undecodable bytes, else a whitespace-normalized str
    if out is not None:
        assert "\n" not in out and "\t" not in out
        assert out == out.strip()
        assert "  " not in out


@given(
    st.text(
        # surrogates (category Cs) are unencodable as UTF-8 — the extractor's
        # domain is BYTES, so they cannot reach it from any real corpus and
        # only crash the test's own .encode()
        alphabet=st.characters(
            blacklist_characters="<>&", blacklist_categories=("Cs",)
        ),
        max_size=200,
    )
)
@settings(deadline=None)
def test_extract_plain_text_is_whitespace_normalization(txt):
    # with no tags/entities the extractor must only normalize whitespace
    out = extract_text_one(txt.encode("utf-8"))
    assert out == " ".join(txt.split())


# -- WAND cursor machinery under tombstones: fuzz vs brute-force oracle -----
# The delete-mask paths (_load_block skip-forward over fully-deleted blocks,
# advance_to landing past a deleted block boundary) have branchy control
# flow that fixture tests only graze; this drives them with random posting
# lists, block sizes, and delete sets.

_wand_case = st.integers(min_value=0, max_value=2**31 - 1)


@given(_wand_case, st.integers(min_value=2, max_value=9),
       st.integers(min_value=1, max_value=8))
@settings(deadline=None, max_examples=60)
def test_wand_kernel_matches_bruteforce_under_deletes(case_seed, block_size, k):
    import pandas as pd

    from defactonlp_spark.operators.wand import wand_topk_kernel

    rng = np.random.default_rng(case_seed)
    n_universe = int(rng.integers(5, 200))
    n_terms = int(rng.integers(1, 5))
    dls = rng.integers(1, 50, size=n_universe).astype(np.int64)  # per-DOC
    avgdl = float(dls.mean())
    n_docs = n_universe + int(rng.integers(0, 20))
    cfg = EngineConfig(block_size=block_size)

    rows, term_posts = [], {}
    for t in range(n_terms):
        term = f"t{t:02d}"
        sz = int(rng.integers(1, n_universe + 1))
        ids = np.sort(rng.choice(n_universe, size=sz, replace=False)).astype(np.int64)
        tfs = rng.integers(1, 6, size=sz).astype(np.int64)
        seg = encode_slice(ids, tfs, dls[ids], term_df=sz, n_docs=n_docs,
                           avgdl=avgdl, cfg=cfg)
        seg["term"] = term
        rows.append(seg)
        term_posts[term] = (ids, tfs)

    # tombstones: random docs (sometimes contiguous runs that empty whole
    # blocks) plus ids outside the universe entirely
    dead = set(rng.choice(n_universe, size=int(rng.integers(0, n_universe)),
                          replace=False).tolist())
    if rng.random() < 0.5 and n_universe > 10:
        lo = int(rng.integers(0, n_universe - 5))
        dead |= set(range(lo, min(lo + block_size * 2, n_universe)))
    dead |= {n_universe + 1000, -5 % (1 << 62)}
    deletes = np.array(sorted(dead), dtype=np.int64)

    got = wand_topk_kernel(pd.DataFrame(rows), n_docs, avgdl, k,
                           cfg.bm25, block_size, deletes=deletes)

    # oracle: per-doc float64 sum in ascending term order over LIVE postings,
    # stored df — the parity contract's summation order
    acc = np.zeros(n_universe, dtype=np.float64)
    seen = np.zeros(n_universe, dtype=bool)
    for term in sorted(term_posts):
        ids, tfs = term_posts[term]
        c = bm25_contrib(tfs, dls[ids], float(idf(ids.size, n_docs)), avgdl,
                         cfg.bm25)
        acc[ids] += c
        seen[ids] = True
    live = seen.copy()
    live[[d for d in dead if 0 <= d < n_universe]] = False
    cand = np.flatnonzero(live)
    order = np.lexsort((cand, -acc[cand]))[:k]
    expect = [(int(cand[i]), float(acc[cand[i]])) for i in order]

    assert [d for d, _ in got] == [d for d, _ in expect]
    np.testing.assert_allclose([s for _, s in got], [s for _, s in expect],
                               rtol=0, atol=1e-12)


@given(_wand_case, st.integers(min_value=1, max_value=8))
@settings(deadline=None, max_examples=60)
def test_dense_group_kernel_matches_bruteforce(case_seed, k):
    """The dense path of one kernel group ranks each claim either over its
    own touched positions or over the whole group buffer, depending on its
    posting count; both must give the brute-force top-k bit for bit, with
    salted (multi-slice) terms and tombstones. Single-term claims take the
    own-positions path, the all-terms claim the buffer scan."""
    import pandas as pd

    from defactonlp_spark.operators.wand import _batch_kernel

    rng = np.random.default_rng(case_seed)
    n_universe = int(rng.integers(5, 300))
    n_terms = int(rng.integers(1, 6))
    dls = rng.integers(1, 50, size=n_universe).astype(np.int64)
    avgdl = float(dls.mean())
    n_docs = n_universe + int(rng.integers(0, 20))
    cfg = EngineConfig()

    rows, term_posts = [], {}
    for t in range(n_terms):
        term = f"t{t:02d}"
        sz = int(rng.integers(1, n_universe + 1))
        ids = np.sort(rng.choice(n_universe, size=sz, replace=False)).astype(np.int64)
        tfs = rng.integers(1, 6, size=sz).astype(np.int64)
        term_posts[term] = (ids, tfs)
        n_salts = int(rng.integers(1, 3))
        for salt in range(n_salts):
            m = ids % n_salts == salt
            if m.any():
                seg = encode_slice(ids[m], tfs[m], dls[ids[m]], term_df=sz,
                                   n_docs=n_docs, avgdl=avgdl, cfg=cfg)
                rows.append({**seg, "term": term, "salt": salt})
    terms = sorted(term_posts)
    claims = [(i, [t]) for i, t in enumerate(terms)]
    claims.append((len(claims), terms))
    for _ in range(3):
        pick = rng.choice(terms, size=int(rng.integers(1, len(terms) + 1)), replace=False)
        claims.append((len(claims), list(pick)))
    dead = rng.choice(n_universe, size=int(rng.integers(0, n_universe // 3 + 1)), replace=False)
    deletes = np.unique(dead.astype(np.int64))

    got = _batch_kernel(pd.DataFrame(rows), claims, n_docs, avgdl, k, cfg.bm25,
                        cfg.block_size, 10**12, deletes=deletes)

    live = np.ones(n_universe, dtype=bool)
    live[deletes] = False
    for cid, cterms in claims:
        acc = np.zeros(n_universe, dtype=np.float64)
        seen = np.zeros(n_universe, dtype=bool)
        for term in sorted(set(cterms)):  # ascending term order
            ids, tfs = term_posts[term]
            acc[ids] += bm25_contrib(tfs, dls[ids], float(idf(ids.size, n_docs)),
                                     avgdl, cfg.bm25)
            seen[ids] = True
        cand = np.flatnonzero(seen & live)
        order = np.lexsort((cand, -acc[cand]))[:k]
        expect = [(int(cand[i]), float(acc[cand[i]])) for i in order]
        mine = got[got["claim_id"] == cid].sort_values("rank")
        assert list(zip(mine["doc_id"].tolist(), mine["score"].tolist())) == expect


@given(st.lists(st.integers(min_value=0, max_value=(1 << 32) - 1),
                min_size=1, max_size=50))
@settings(max_examples=200, deadline=None)
def test_minhash_permutations_int64_exact(hs):
    """The Carter-Wegman permutation arithmetic must be int64-exact: numpy
    int64 (the kernel) == unbounded Python ints (the spec) for every base
    hash — i.e. A*h + B never overflows (A <= 2^30, h < 2^32, B < 2^61)."""
    from defactonlp_spark.operators.dedup import MINHASH_A, MINHASH_B, MINHASH_P

    A = np.array(MINHASH_A, dtype=np.int64).reshape(-1, 1)
    B = np.array(MINHASH_B, dtype=np.int64).reshape(-1, 1)
    harr = np.asarray(hs, dtype=np.int64)
    kernel = ((A * harr + B) % MINHASH_P).min(axis=1)
    for i in range(len(MINHASH_A)):
        spec = min((MINHASH_A[i] * h + MINHASH_B[i]) % MINHASH_P for h in hs)
        assert int(kernel[i]) == spec


@given(st.text(max_size=300))
@settings(max_examples=300, deadline=None)
def test_curation_count_regexes_match_char_definitions(txt):
    """The curation kernel's count regexes (plans/curate.py, compiled with
    re.ASCII) must equal the per-char definitions on ARBITRARY unicode text
    — ASCII-alpha count, ASCII-digit count — i.e. exactly what the JVM's
    length-difference expressions compute."""
    from defactonlp_spark.plans.curate import _DIGIT_RE, _NONALPHA_RE

    alpha = len(_NONALPHA_RE.sub("", txt))
    digits = len(txt) - len(_DIGIT_RE.sub("", txt))
    assert alpha == sum(1 for c in txt if ("a" <= c <= "z") or ("A" <= c <= "Z"))
    assert digits == sum(1 for c in txt if "0" <= c <= "9")


# ---- session-5 operator invariants (pure-python kernels, no Spark) -------


@given(
    st.lists(
        st.lists(st.floats(-100, 100, allow_nan=False, width=32), min_size=1, max_size=32),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=200, deadline=None)
def test_sq8_code_bounds_and_reconstruction_error(vecs):
    """For any finite vector: codes stay in [-127,127] and per-component
    reconstruction error is bounded by scale/254 + half-ulp slack (the
    symmetric-quantizer guarantee the 4x compression trades on)."""
    for v in vecs:
        x = np.asarray(v, dtype=np.float64)
        mx = float(np.max(np.abs(x)))
        if mx == 0.0:
            continue
        codes = np.floor((x * 127.0) / mx + 0.5)
        assert codes.min() >= -127 and codes.max() <= 127
        rec = codes * mx / 127.0
        assert np.max(np.abs(rec - x)) <= mx / 254.0 + 1e-9 * mx


@given(
    st.lists(st.integers(0, 500), min_size=1, max_size=300),
    st.integers(1, 64),
)
@settings(max_examples=100, deadline=None)
def test_pack_sequences_prefix_invariants(ntoks, seq_len):
    """Scalar form of the packing rule: offsets advance by exactly n_tokens,
    every seq_offset < seq_len, seq_id is nondecreasing along the order,
    and the token total is conserved."""
    excl = 0
    prev_seq = -1
    for n in ntoks:
        seq_id, seq_off = excl // seq_len, excl % seq_len
        assert 0 <= seq_off < seq_len
        assert seq_id >= prev_seq
        prev_seq = seq_id
        excl += n
    assert excl == sum(ntoks)


@given(
    st.sets(st.tuples(st.integers(0, 30), st.integers(0, 30)), max_size=60),
    st.sets(st.tuples(st.integers(0, 30), st.integers(0, 30)), max_size=60),
)
@settings(max_examples=150, deadline=None)
def test_pair_eval_metric_bounds(pred, truth):
    """Scalar replay of pair_eval's definitions: metrics live in [0,1],
    tp <= min(n_pred, n_truth), and perfect prediction gives P=R=F1=1."""
    norm = lambda s: {(min(a, b), max(a, b)) for a, b in s if a != b}
    p, t = norm(pred), norm(truth)
    tp = len(p & t)
    prec = tp / len(p) if p else 0.0
    rec = tp / len(t) if t else 0.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec > 0 else 0.0
    assert 0.0 <= prec <= 1.0 and 0.0 <= rec <= 1.0 and 0.0 <= f1 <= 1.0
    assert tp <= min(len(p), len(t))
    if p and p == t:
        assert prec == rec == f1 == 1.0


# ----------------------------------------------------- round-4 continuation --


@given(st.text(max_size=200))
@settings(max_examples=300, deadline=None)
def test_query_string_parser_total_on_arbitrary_text(q):
    """simple_query_string is LENIENT by contract: any input parses without
    raising, into clauses whose invariants hold — pri in {0,1,2}, kind
    consistent with token count, tokens nonempty lowercase [a-z0-9]+."""
    from defactonlp_spark.operators.querystring import parse_simple_query_string

    from defactonlp_spark.functions.tokenize import TOKEN_RE

    clauses = parse_simple_query_string(q)
    for c in clauses:
        assert c.pri in (0, 1, 2)
        # tokens obey the engine tokenizer's contract (DrQA [^\W_]+ over
        # NFD casefolded text): nonempty, fully word-chars, casefold-stable
        assert c.tokens
        for t in c.tokens:
            assert t and TOKEN_RE.fullmatch(t), t
            assert t == t.casefold()
        if c.kind == "phrase":
            assert len(c.tokens) > 1
        else:
            assert c.kind in ("term", "prefix") and len(c.tokens) == 1


@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(1, 30)), min_size=1, max_size=40
    )
)
@settings(max_examples=200, deadline=None)
def test_ql_gram_weights_pure_and_bounded(pairs):
    """quality_weights is a pure bounded function of the bucket index —
    the memo added for throughput must be semantics-free."""
    from defactonlp_spark.functions.textstats import QL_BUCKETS, quality_weights

    w = quality_weights()
    assert len(w) == QL_BUCKETS and all(-1.0 <= x <= 1.0 for x in w)
    assert quality_weights() == w


@given(st.integers(1, 60), st.integers(1, 1000))
@settings(max_examples=100, deadline=None)
def test_rrf_contribution_monotone_in_rank(rank, c):
    # 1/(c+r) strictly decreases with rank: a doc can never gain by
    # appearing LOWER in any input list
    assert 1.0 / (c + rank) > 1.0 / (c + rank + 1)


@given(
    st.lists(st.floats(-50, 50), min_size=64, max_size=64),
    st.lists(st.floats(-50, 50), min_size=64, max_size=64),
)
@settings(max_examples=200, deadline=None)
def test_bq_sign_hamming_equals_popcount_xor(va, vb):
    """The twin's sign-mismatch count must equal popcount(xor(bits)) for
    ANY packing order — injectivity of the per-dim sign rule."""
    def pack(v):
        b = 0
        for d, x in enumerate(v):
            if x > 0:
                b |= 1 << d
        return b

    mism = sum(1 for x, y in zip(va, vb) if (x > 0) != (y > 0))
    assert bin(pack(va) ^ pack(vb)).count("1") == mism


@given(st.lists(st.integers(0, 10_000), min_size=2, max_size=200))
@settings(max_examples=200, deadline=None)
def test_auto_dh_ladder_selection_is_monotone(epochs):
    """A wider span never selects a SMALLER auto_date_histogram rung, and
    the chosen rung's bucket count respects the target."""
    from defactonlp_spark.operators.analytics import AUTO_DH_LADDER

    lo, hi = min(epochs), max(epochs)
    target = 20

    def pick(l, h):
        for r in AUTO_DH_LADDER:
            if h // r - l // r + 1 <= target:
                return r
        return AUTO_DH_LADDER[-1]

    r1 = pick(lo, hi)
    r2 = pick(lo, hi + 10_000_000)
    assert r2 >= r1
    assert hi // r1 - lo // r1 + 1 <= target or r1 == AUTO_DH_LADDER[-1]


# --- link extraction (functions/extract.py) --------------------------------

@given(st.binary(max_size=2000))
@settings(deadline=None)
def test_extract_links_total_on_arbitrary_bytes(raw):
    """Never raises, never emits fragments/empty/javascript-family
    targets, never emits duplicates — on ANY byte soup."""
    from defactonlp_spark.functions.extract import extract_links_one

    got = extract_links_one(raw, "https://base.example/dir/p.html")
    assert len(got) == len(set(got))
    for u in got:
        assert u and "#" not in u
        assert not u.lower().startswith(("javascript:", "mailto:", "data:"))


@given(st.binary(max_size=2000))
@settings(deadline=None)
def test_extract_anchors_total_on_arbitrary_bytes(raw):
    """Anchor extraction never raises and never emits empty text, empty
    targets, fragments, or javascript-family targets on ANY byte soup."""
    from defactonlp_spark.functions.extract import extract_anchors_one

    for target, text in extract_anchors_one(raw, "https://base.example/p"):
        assert target and "#" not in target
        assert not target.lower().startswith(("javascript:", "mailto:", "data:"))
        assert text == text.strip() and text
