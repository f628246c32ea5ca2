"""Property-based tests (hypothesis) for the pure-Python hot spots and
the relational core.

The wire-format encoders are pure functions — hypothesis drives them
hard (hundreds of examples, no Spark). The Spark-backed properties run
few examples (each example is a real job) but assert against
independent Python reference models, which is what makes them worth
having: the unit suites pin known cases, these pin the CONTRACT.
"""

import math

from hypothesis import example, given, settings, strategies as st

from replicadb_spark.sinks import mysql_load as M
from replicadb_spark.sinks import pg_copy as P

# ---------------------------------------------------------------------------
# COPY / LOAD DATA wire-format round-trips (pure, fast, many examples)
# ---------------------------------------------------------------------------

text_values = st.text(
    alphabet=st.characters(codec="utf-8", exclude_characters=["\x00"]),
    max_size=60,
)


def _pg_decode_field(s: str) -> str:
    """Inverse of the COPY text escaping for the subset we emit."""
    if s == "\\N":
        return None
    out, i = [], 0
    while i < len(s):
        if s[i] == "\\" and i + 1 < len(s):
            nxt = s[i + 1]
            if nxt == "\\":
                out.append("\\"); i += 2; continue
            if nxt == "n":
                out.append("\n"); i += 2; continue
            if nxt == "r":
                out.append("\r"); i += 2; continue
            if nxt == "x" and s[i + 2 : i + 4] == "1f":
                out.append("\x1f"); i += 4; continue
        out.append(s[i]); i += 1
    return "".join(out)


@given(st.lists(st.one_of(st.none(), text_values), min_size=1, max_size=6))
@settings(max_examples=300, deadline=None)
def test_pg_copy_row_roundtrip(values):
    row = P.encode_row(values).decode("utf-8")
    assert row.endswith("\n")
    fields = row[:-1].split("\x1f")
    assert len(fields) == len(values)
    for got, want in zip(fields, values):
        assert _pg_decode_field(got) == want
    # the encoded row never contains a raw delimiter inside a field,
    # a raw newline, or a raw CR (column/row-shift corruption)
    body = row[:-1]
    assert "\n" not in body and "\r" not in body


@given(st.binary(max_size=40))
@settings(max_examples=200, deadline=None)
def test_pg_copy_binary_hex(payload):
    enc = P.encode_value(payload)
    assert enc.startswith("\\\\x")
    assert bytes.fromhex(enc[3:]) == payload


@given(st.lists(st.one_of(st.none(), text_values), min_size=1, max_size=6))
@settings(max_examples=300, deadline=None)
def test_mysql_load_row_shape(values):
    row = M.encode_row(values).decode("utf-8")
    assert row.endswith("\n")
    body = row[:-1]
    # backslash-escaped 0x1F is not a field boundary: count unescaped ones
    boundaries = 0
    i = 0
    while i < len(body):
        if body[i] == "\\":
            i += 2
            continue
        if body[i] == "\x1f":
            boundaries += 1
        i += 1
    assert boundaries == len(values) - 1
    assert "\n" not in body and "\r" not in body


# ---------------------------------------------------------------------------
# upsert_dataframe vs a dict model (the M3 relational core)
# ---------------------------------------------------------------------------

# rows (a, b, v): (a, b) is the composite PK, a may be NULL (Spark's
# window groups NULL keys together, like the dict model's None key)
rows_strategy = st.lists(
    st.tuples(st.one_of(st.none(), st.integers(0, 4)), st.integers(0, 1),
              st.integers(0, 1000)),
    min_size=0, max_size=12,
)


@given(sink=rows_strategy, staging=rows_strategy,
       partitions=st.sampled_from([None, 1, 4]))
@example(sink=[(1, 0, 1), (2, 0, 2)], staging=[], partitions=4)  # empty batch
@example(sink=[], staging=[(3, 1, 7)], partitions=4)  # single row
@example(sink=[(1, 0, 1)], staging=[(1, 0, 5), (1, 0, 6), (None, 1, 9)],
         partitions=4)  # duplicate staging keys + a NULL key
@settings(max_examples=12, deadline=None)
def test_upsert_matches_dict_model(spark, sink, staging, partitions):
    """The M3 merge against a dict model, at the default AQE width and
    at the ``partitions``-wide (jobs) width below the size gate."""
    from replicadb_spark.modes import upsert_dataframe

    schema = "a int, b int, v int"
    sink_df = spark.createDataFrame(sink, schema)
    stg_df = spark.createDataFrame(staging, schema)
    out = upsert_dataframe(sink_df, stg_df, ["a", "b"], partitions=partitions)
    got = [(r["a"], r["b"], r["v"]) for r in out.collect()]

    # model: staging beats sink per PK; duplicate PKs within a side
    # collapse to ONE winner (any of them — the window breaks ties
    # arbitrarily but deterministically)
    def key(row):
        return row[:2]

    model_keys = {key(r) for r in sink} | {key(r) for r in staging}
    assert {key(r) for r in got} == model_keys
    assert len(got) == len(model_keys)  # exactly one row per PK
    stg_keys = {key(r) for r in staging}
    for r in got:
        assert r in set(staging if key(r) in stg_keys else sink)


# ---------------------------------------------------------------------------
# jaccard_pairs vs a pure-Python reference
# ---------------------------------------------------------------------------

words = st.sampled_from(["alpha", "beta", "gamma", "delta", "epsilon", "zeta"])
docs_strategy = st.lists(
    st.lists(words, min_size=0, max_size=8).map(" ".join), min_size=2, max_size=6
)


def _py_jaccard_pairs(texts, k=3, threshold=0.2):
    def sh(t):
        toks = t.lower().split()
        return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}
    sets = {i: sh(t) for i, t in enumerate(texts)}
    out = {}
    for a in sets:
        for b in sets:
            if a < b and sets[a] and sets[b]:
                inter = len(sets[a] & sets[b])
                uni = len(sets[a] | sets[b])
                if uni and inter / uni >= threshold:
                    out[(a, b)] = inter / uni
    return out

_JACCARD_CACHE = {}


@given(docs=docs_strategy)
@settings(max_examples=8, deadline=None)
def test_jaccard_pairs_matches_python_reference(spark, docs):
    from replicadb_spark.functions.dedup import jaccard_pairs

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in jaccard_pairs(df, "doc_id", "text", k=3, threshold=0.2).collect()}
    want = _py_jaccard_pairs(docs, k=3, threshold=0.2)
    assert set(got) == set(want)
    for pair, val in got.items():
        assert math.isclose(val, want[pair], rel_tol=1e-12)


# ---------------------------------------------------------------------------
# PII patterns (pure `re` — the patterns use only RE2∩Java-safe constructs,
# which Python's engine interprets identically)
# ---------------------------------------------------------------------------

import re

from replicadb_spark.functions.text import PII_EMAIL_RE, PII_LONGNUM_RE, PII_NUM_RE


def _scrub(s: str) -> str:
    s = re.sub(PII_EMAIL_RE, "<EMAIL>", s)
    s = re.sub(PII_LONGNUM_RE, "<NUM>", s)
    return re.sub(PII_NUM_RE, "#", s)


@given(st.text(max_size=80))
@settings(max_examples=500, deadline=None)
def test_pii_scrub_idempotent_and_digit_free(s):
    once = _scrub(s)
    # no digit survives a scrub, so scrubbing again changes nothing
    assert not re.search(r"[0-9]", once)
    assert _scrub(once) == once


_local = st.text(
    alphabet="ABCDEFghijkl0123456789._%+-", min_size=1, max_size=12
).filter(lambda s: s.strip("._%+-"))
_domain = st.text(alphabet="abcXYZ0123456789", min_size=1, max_size=8)
_tld = st.text(alphabet="abcdefgh", min_size=2, max_size=5)
_simple_emails = st.builds(lambda l, d, t: f"{l}@{d}.{t}", _local, _domain, _tld)


@given(st.lists(_simple_emails, min_size=1, max_size=4))
@settings(max_examples=200, deadline=None)
def test_pii_scrub_removes_emails(emails):
    # the pattern's declared contract: common-shape addresses
    # (alnum/._%+- local, dotted alnum domain) — not full RFC 5321
    joined = " x ".join(emails)
    assert "@" not in _scrub(joined)


# ---------------------------------------------------------------------------
# Shard packing vs a sequential Python reference (Spark-backed, few examples)
# ---------------------------------------------------------------------------


@given(
    st.lists(
        st.tuples(st.integers(0, 10_000), st.integers(1, 500)),
        min_size=1, max_size=120, unique_by=lambda t: t[0],
    ),
    st.integers(100, 2000),
)
@settings(max_examples=8, deadline=None)
def test_pack_shards_matches_sequential_reference(spark, rows, budget):
    from replicadb_spark.operators.ordering import pack_shards

    df = spark.createDataFrame(rows, "k long, cost long")
    got = {
        r["k"]: (r["running_total"], r["shard"])
        for r in pack_shards(df, "k", "cost", budget=budget, bucket_width=37).collect()
    }
    running, want = 0, {}
    for k, cost in sorted(rows):
        running += cost
        want[k] = (running, (running - cost) // budget)
    assert got == want


# ---------------------------------------------------------------------------
# CDC diff/apply roundtrip vs a dict model
# ---------------------------------------------------------------------------

snap_strategy = st.lists(
    st.tuples(st.integers(0, 15), st.one_of(st.none(), st.integers(0, 3))),
    min_size=0,
    max_size=10,
    unique_by=lambda t: t[0],  # PK-unique rows, per the replication contract
)


@given(old=snap_strategy, new=snap_strategy)
@settings(max_examples=8, deadline=None)
def test_snapshot_diff_apply_roundtrip(spark, old, new):
    from replicadb_spark.operators import apply_diff, snapshot_diff

    schema = "id int, v int"
    old_df = spark.createDataFrame(old, schema) if old else spark.createDataFrame([], schema)
    new_df = spark.createDataFrame(new, schema) if new else spark.createDataFrame([], schema)

    diff = snapshot_diff(old_df, new_df, ["id"], ["v"]).collect()

    # model: classification per key
    o, n = dict(old), dict(new)
    want = {}
    for k in o.keys() | n.keys():
        if k not in o:
            want[k] = "insert"
        elif k not in n:
            want[k] = "delete"
        elif o[k] != n[k]:
            want[k] = "update"
    assert {r.id: r.change_type for r in diff} == want

    rebuilt = apply_diff(
        old_df, snapshot_diff(old_df, new_df, ["id"], ["v"]), ["id"], ["v"]
    )
    assert sorted(map(tuple, rebuilt.collect())) == sorted(map(tuple, new))


# ---------------------------------------------------------------- round 4

NUMERIC_TYPES = ["tinyint", "smallint", "int", "bigint", "float", "double"]


@given(
    a=st.sampled_from(NUMERIC_TYPES),
    b=st.sampled_from(NUMERIC_TYPES),
)
def test_widen_is_commutative_and_absorbing(a, b):
    """union_with_drift's type widening: symmetric, idempotent on its
    own result, and never narrowing (the widened type re-widened with
    either input returns itself)."""
    from replicadb_spark.operators.cdc import _widen

    def widen(x, y):
        try:
            return _widen("c", x, y, allow_lossy=True)
        except TypeError:
            return None

    w = widen(a, b)
    assert w == widen(b, a)
    if w is not None:
        assert widen(w, a) == w and widen(w, b) == w
        # lossless-by-construction: int-family × frac-family → double only
        fam_int = {"tinyint", "smallint", "int", "bigint"}
        if (a in fam_int) != (b in fam_int):
            assert w == "double"


@given(
    counts=st.dictionaries(
        st.integers(0, 500), st.integers(1, 10_000), min_size=0, max_size=300
    ),
    k=st.integers(1, 64),
)
def test_mg_reduce_invariants(counts, k):
    """Misra-Gries prune: ≤ len(counts) survivors, every estimate
    under-estimates its input by the same pivot, and any key whose
    count exceeds total/(k+1) survives."""
    from replicadb_spark.operators.heavy_hitters import _mg_reduce

    total = sum(counts.values())
    red = _mg_reduce(dict(counts), k)
    assert set(red) <= set(counts)
    for key, est in red.items():
        assert 0 < est <= counts[key]
    for key, c in counts.items():
        if c > total / (k + 1):
            assert key in red, (key, c, total, k)


# ---------------------------------------------------------------------------
# KMV estimator (pure, fast, many examples)
# ---------------------------------------------------------------------------

@given(
    st.sets(st.integers(min_value=-(2**62), max_value=2**62), max_size=300),
    st.integers(min_value=8, max_value=64),
)
@settings(max_examples=200, deadline=None)
def test_kmv_estimate_exact_when_unsaturated_and_positive(ranks, k):
    from replicadb_spark.operators.quantiles import _kmv_estimate

    bottom = sorted(ranks)[:k]
    est = _kmv_estimate(bottom, k)
    assert est >= 0.0
    if len(ranks) < k:
        # sketch IS the distinct set
        assert est == float(len(ranks))


@given(
    st.sets(st.integers(min_value=-(2**62), max_value=2**62),
            min_size=1, max_size=400),
    st.sets(st.integers(min_value=-(2**62), max_value=2**62),
            min_size=1, max_size=400),
    st.integers(min_value=16, max_value=128),
)
@settings(max_examples=100, deadline=None)
def test_kmv_set_estimates_merge_properties(a, b, k):
    """Union estimate from the two sketches equals the estimate of the
    directly-merged sketch (KMV mergeability), intersection never
    exceeds the union, and jaccard stays in [0, 1]."""
    from replicadb_spark.operators.quantiles import (
        _kmv_estimate,
        kmv_set_estimates,
    )

    sa, sb = sorted(a)[:k], sorted(b)[:k]
    est = kmv_set_estimates(sa, sb, k)
    direct_union = _kmv_estimate(sorted(set(sa) | set(sb))[:k], k)
    assert est["est_union"] == direct_union
    assert 0.0 <= est["jaccard"] <= 1.0
    assert est["est_intersect"] <= est["est_union"] + 1e-9


# ---------------------------------------------------------------------------
# int8 quantization arithmetic (pure kernel logic via numpy)
# ---------------------------------------------------------------------------

@given(
    st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=64),
        min_size=2, max_size=64,
    )
)
@settings(max_examples=200, deadline=None)
def test_int8_code_arithmetic_bound(xs):
    """round((x-lo)/step)-127 always lands in [-127, 127] and decodes
    within step/2 — the invariant emb_int8_quant_gate checks end-to-end
    on Spark, pinned here on the bare arithmetic for every profile
    hypothesis can dream up (one dimension, corpus = the list)."""
    import numpy as np

    v = np.array(xs, dtype=np.float64)
    lo, hi = v.min(), v.max()
    step = max(hi - lo, 0.0) / 254.0
    if step == 0.0:
        return  # constant dim: codes are 0, recon == lo, exact
    code = np.rint((v - lo) / step) - 127
    assert code.min() >= -127 and code.max() <= 127
    recon = (code + 127.0) * step + lo
    assert (np.abs(recon - v) <= step / 2 + 1e-9 * max(abs(lo), abs(hi), 1.0)).all()


# ---------------------------------------------------------------------------
# semantic dedup greedy contract (Spark-backed, few examples)
# ---------------------------------------------------------------------------

@given(
    st.lists(
        st.tuples(
            st.floats(min_value=-3, max_value=3, allow_nan=False, width=32),
            st.floats(min_value=-3, max_value=3, allow_nan=False, width=32),
            st.floats(min_value=-3, max_value=3, allow_nan=False, width=32),
        ),
        min_size=1, max_size=18,
    ),
    st.floats(min_value=0.5, max_value=0.999),
)
@settings(max_examples=8, deadline=None)
def test_semantic_dedup_matches_sequential_reference(spark, vecs, threshold):
    """With one cell, the verdict must equal the sequential greedy
    min-id maximal-independent-set over the cosine-threshold graph,
    computed by an independent pure-python model."""
    import numpy as np

    from replicadb_spark.functions.dedup import semantic_dedup

    rows = [(i, [float(a), float(b), float(c)]) for i, (a, b, c) in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["id"]: r["kept"]
        for r in semantic_dedup(
            df, id_col="vec_id", vec_col="embedding",
            n_cells=1, threshold=threshold,
        ).collect()
    }

    M = np.array([v for _, v in rows], dtype=np.float64)
    nrm = np.linalg.norm(M, axis=1)
    nrm[nrm == 0.0] = 1.0
    Mn = M / nrm[:, None]
    kept_ref: list[int] = []
    want = {}
    for i in range(len(rows)):
        dup = any(float(Mn[j] @ Mn[i]) >= threshold for j in kept_ref)
        want[i] = not dup
        if not dup:
            kept_ref.append(i)
    assert got == want


# ---------------------------------------------------------------- codecs

import numpy as np

from replicadb_spark.functions import codecs


@st.composite
def rgb_arrays(draw):
    h = draw(st.integers(1, 9))
    w = draw(st.integers(1, 9))
    data = draw(
        st.binary(min_size=h * w * 3, max_size=h * w * 3)
    )
    return np.frombuffer(data, np.uint8).reshape(h, w, 3)


@given(rgb_arrays())
@settings(max_examples=60, deadline=None)
def test_ppm_roundtrip_any_image(rgb):
    np.testing.assert_array_equal(
        codecs.decode_ppm(codecs.encode_ppm(rgb)), rgb
    )


@given(rgb_arrays(), st.integers(1, 12), st.integers(1, 12))
@settings(max_examples=40, deadline=None)
def test_resize_nearest_samples_real_pixels(rgb, w, h):
    out = codecs.resize_nearest(rgb, w, h)
    assert out.shape == (h, w, 3)
    # every output pixel is SOME input pixel (nearest-neighbor, no blend)
    flat_in = {bytes(p) for p in rgb.reshape(-1, 3)}
    assert all(bytes(p) in flat_in for p in out.reshape(-1, 3))
    # identity resize is exact
    same = codecs.resize_nearest(rgb, rgb.shape[1], rgb.shape[0])
    np.testing.assert_array_equal(same, rgb)


@given(
    st.lists(st.floats(-1.0, 1.0, allow_nan=False), min_size=1, max_size=400),
    st.sampled_from([8000, 16000, 44100]),
)
@settings(max_examples=40, deadline=None)
def test_wav_16bit_roundtrip_any_signal(samples, rate):
    import io
    import wave as wave_mod

    x = np.array(samples)
    buf = io.BytesIO()
    with wave_mod.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes((x * 32767).astype("<i2").tobytes())
    got, got_rate = codecs.decode_wav(buf.getvalue())
    assert got_rate == rate and len(got) == len(x)
    # 16-bit quantization: within 1 LSB of the original
    assert np.abs(got - np.round(x * 32767) / 32768.0).max() <= (1.5 / 32768)


# ---------------------------------------------------------------------------
# FastSS edit-distance blocking vs a reference Levenshtein (r12)
# ---------------------------------------------------------------------------

def _py_lev(a: str, b: str) -> int:
    dp = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, dp[0] = dp[0], i
        for j, cb in enumerate(b, 1):
            prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
    return dp[len(b)]


# tiny alphabet + short strings force dense collisions, repeated-char
# runs (the run-interval filter's hard case), and empty strings
_short_strings = st.lists(
    st.text(alphabet="abc", max_size=5), min_size=2, max_size=10
)


@given(strs=_short_strings)
@settings(max_examples=8, deadline=None)
def test_edit1_pairs_matches_levenshtein_reference(spark, strs):
    from replicadb_spark.operators.setsim import edit1_pairs

    df = spark.createDataFrame(
        list(enumerate(strs)), "id long, s string"
    )
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in edit1_pairs(df, "id", "s").collect()
    }
    want = {
        (a, b, 1)
        for a in range(len(strs))
        for b in range(a + 1, len(strs))
        if strs[a] != strs[b] and _py_lev(strs[a], strs[b]) == 1
    }
    assert got == want


@given(strs=_short_strings)
@settings(max_examples=8, deadline=None)
def test_edit2_pairs_matches_levenshtein_reference(spark, strs):
    from replicadb_spark.operators.setsim import edit2_pairs

    df = spark.createDataFrame(
        list(enumerate(strs)), "id long, s string"
    )
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in edit2_pairs(df, "id", "s").collect()
    }
    want = {
        (a, b, _py_lev(strs[a], strs[b]))
        for a in range(len(strs))
        for b in range(a + 1, len(strs))
        if strs[a] != strs[b] and 1 <= _py_lev(strs[a], strs[b]) <= 2
    }
    assert got == want


# ---------------------------------------------------------------------------
# Byte-level BPE: round-trip + id fidelity on arbitrary text (pure, fast)
# ---------------------------------------------------------------------------

@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(codec="utf-8", exclude_characters=["\x00"]),
            max_size=40,
        ),
        min_size=1,
        max_size=12,
    ),
    n_merges=st.integers(min_value=0, max_value=60),
)
@settings(max_examples=60, deadline=None)
def test_bpe_encode_roundtrips_any_text(texts, n_merges):
    """decode(encode(w)) == w for EVERY word of arbitrary unicode text
    under arbitrary merge budgets, and the id mapping preserves byte
    lengths — the no-unknown-tokens property, driven wide (the trainer
    runs on the same words, driver-side, no Spark)."""
    from replicadb_spark.functions.bpe import (
        _encode_word,
        _merge_word,
        _pair_counts,
        _words,
        bpe_vocab,
    )

    word_freq = {}
    for t in texts:
        for w in _words(t):
            word_freq[w] = word_freq.get(w, 0) + 1
    # naive trainer (the unit suite pins incremental == naive)
    vocab = {tuple(bytes([b]) for b in w): f for w, f in word_freq.items()}
    merges = []
    for _ in range(n_merges):
        counts = _pair_counts(vocab)
        if not counts:
            break
        best = min(counts, key=lambda p: (-counts[p], p))
        if counts[best] < 2:
            break
        joined = best[0] + best[1]
        vocab = {_merge_word(s, best, joined): f for s, f in vocab.items()}
        merges.append(best)
    ranks = {p: i for i, p in enumerate(merges)}
    tok2id, id2bytes = bpe_vocab(merges)
    for w in word_freq:
        toks = _encode_word(w, ranks)
        assert b"".join(toks) == w
        ids = [tok2id[t] for t in toks]
        assert b"".join(id2bytes[i] for i in ids) == w
