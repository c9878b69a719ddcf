"""Property-based tests (hypothesis): the codegen'd column-expression
implementations must agree with plain-Python reference semantics on
arbitrary inputs — nulls, empties, unicode, single chars."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from spatially_databricks_etl_spark.functions.text import (
    ngrams,
    rolling_fingerprint,
    token_count,
)
from spatially_databricks_etl_spark.operators.dedup import jaccard

TEXT = st.text(
    alphabet=st.characters(codec="ascii", exclude_characters="\x00"), max_size=60
)
SETTINGS = settings(
    max_examples=12,
    deadline=None,
    derandomize=True,  # CI-stable: no fresh random examples per run
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(texts=st.lists(TEXT, min_size=1, max_size=8))
@SETTINGS
def test_char_ngrams_match_python(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [r["g"] for r in df.select(ngrams("t", 3, character=True).alias("g")).collect()]
    for t, g in zip(texts, got):
        lo = t.lower()
        want = [lo[i : i + 3] for i in range(len(lo) - 2)] if len(lo) >= 3 else []
        assert g == want, (t, g, want)


@given(texts=st.lists(TEXT, min_size=1, max_size=8))
@SETTINGS
def test_rolling_fingerprint_matches_python(spark, texts):
    mod, base = (1 << 31) - 1, 257
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [
        r["fp"]
        for r in df.select(rolling_fingerprint("t", modulus=mod).alias("fp")).collect()
    ]
    for t, fp in zip(texts, got):
        acc = 0
        for ch in t:
            acc = (acc * base + ord(ch)) % mod
        assert fp == acc, (t, fp, acc)


def test_rolling_fingerprint_default_modulus_safe_and_validated(spark):
    """The DEFAULT modulus must run clean under ANSI (no int64
    overflow: acc*base stays < 2^63) and an overflowing modulus must
    be rejected at call time instead of failing on the cluster."""
    import pytest

    df = spark.createDataFrame([("hello world " * 50,)], "t string")
    fp = df.select(rolling_fingerprint("t").alias("fp")).collect()[0]["fp"]
    mod, base, acc = (1 << 31) - 1, 257, 0
    for ch in "hello world " * 50:
        acc = (acc * base + ord(ch)) % mod
    assert fp == acc
    with pytest.raises(ValueError, match="overflows int64"):
        rolling_fingerprint("t", modulus=(1 << 61) - 1)


@given(
    a=st.lists(st.text(alphabet="abcd", min_size=1, max_size=3), max_size=8),
    b=st.lists(st.text(alphabet="abcd", min_size=1, max_size=3), max_size=8),
)
@SETTINGS
def test_jaccard_matches_python_sets(spark, a, b):
    df = spark.createDataFrame([(a, b)], "a array<string>, b array<string>")
    got = df.select(jaccard(F.col("a"), F.col("b")).alias("j")).collect()[0]["j"]
    sa, sb = set(a), set(b)
    want = len(sa & sb) / len(sa | sb) if (sa | sb) else 0.0
    assert abs(got - want) < 1e-9, (a, b, got, want)


@given(texts=st.lists(TEXT, min_size=1, max_size=8))
@SETTINGS
def test_whitespace_token_count_matches_python(spark, texts):
    import re

    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [
        r["n"]
        for r in df.select(token_count("t", whitespace=True).alias("n")).collect()
    ]
    for t, n in zip(texts, got):
        # reference uses JAVA \s semantics ([ \t\n\x0b\f\r], unlike
        # Python str.split's broader unicode whitespace) and Spark
        # trim() semantics (strips 0x20 only) — the same definitions
        # the DuckDB oracle regexes use
        stripped = t.strip(" ")
        want = len(re.split(r"[ \t\n\x0b\f\r]+", stripped)) if stripped else 0
        assert n == want, (repr(t), n, want)


def _lev(a: str, b: str) -> int:
    d = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, d[0] = d[0], i
        for j, cb in enumerate(b, 1):
            prev, d[j] = d[j], min(d[j] + 1, d[j - 1] + 1, prev + (ca != cb))
    return d[len(b)]


WORD = st.text(
    alphabet=st.sampled_from("abcX"), max_size=8  # tiny alphabet → dense collisions
)


@given(
    corpus=st.lists(WORD, min_size=1, max_size=10),
    probes=st.lists(WORD, min_size=1, max_size=6),
    k=st.integers(min_value=1, max_value=2),
)
@SETTINGS
def test_fuzzy_join_matches_bruteforce(spark, corpus, probes, k):
    """PassJoin segment blocking must be lossless for any strings,
    any k — including empties and length-k deltas at the pigeonhole
    boundary."""
    from spatially_databricks_etl_spark.operators.similarity import fuzzy_join

    c = spark.createDataFrame([(i, w) for i, w in enumerate(corpus)], ["cid", "name"])
    p = spark.createDataFrame([(i, w) for i, w in enumerate(probes)], ["pid", "q"])
    got = {
        (r["pid"], r["cid"], r["distance"])
        for r in fuzzy_join(
            c, p, corpus_col="name", probe_col="q", max_distance=k
        ).collect()
    }
    want = {
        (pi, ci, _lev(q, w))
        for pi, q in enumerate(probes)
        for ci, w in enumerate(corpus)
        if _lev(q, w) <= k
    }
    assert got == want


@given(
    n_toks=st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=30),
    capacity=st.integers(min_value=1, max_value=16),
)
@SETTINGS
def test_pack_sequences_matches_replay(spark, n_toks, capacity):
    """Closed-form window packing must equal a sequential replay of
    concat-and-chunk for any token counts, including zero-token docs
    and docs longer than the capacity."""
    from spatially_databricks_etl_spark.operators.curate import pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in enumerate(n_toks)],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in pack_sequences(docs, capacity=capacity, n_shards=1).collect()
    }
    pos = 0
    for i, n in enumerate(n_toks):
        r = out[i]
        assert r["n_tokens"] == n, (i, n, r)
        assert r["first_seq"] == pos // capacity
        assert r["last_seq"] == max(pos // capacity, (pos + n - 1) // capacity)
        pos += n


@given(
    ids=st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=30, unique=True),
    salt=st.text(alphabet=st.sampled_from("abc123"), max_size=5),
)
@SETTINGS
def test_hash_split_matches_hashlib(spark, ids, salt):
    """The md5-prefix assignment must be reproducible OUTSIDE Spark
    from the documented construction (hashlib + the exported edges) —
    that's the engine-portability contract."""
    import hashlib

    from spatially_databricks_etl_spark.operators.curate import (
        hash_split,
        hash_split_edges,
    )

    splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    docs = spark.createDataFrame([(i,) for i in ids], ["doc_id"])
    got = dict(
        hash_split(docs, salt=salt, splits=splits, method="md5")
        .select("doc_id", "split")
        .collect()
    )
    edges = hash_split_edges(splits)
    for i in ids:
        h = hashlib.md5(f"{i}{salt}".encode()).hexdigest()[:4]
        want = next(
            (name for name, edge in edges[:-1] if h < edge), edges[-1][0]
        )
        assert got[i] == want, (i, h, got[i], want)


@given(
    n_toks=st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=12),
    chunk=st.integers(min_value=2, max_value=10),
    overlap=st.integers(min_value=0, max_value=8),
)
@SETTINGS
def test_chunk_documents_matches_replay(spark, n_toks, chunk, overlap):
    from hypothesis import assume

    from spatially_databricks_etl_spark.operators.curate import chunk_documents

    assume(overlap < chunk)
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(n))) for i, n in enumerate(n_toks)],
        ["doc_id", "text"],
    )
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["chunk_text"], r["n_chunk_tokens"])
        for r in chunk_documents(docs, chunk_tokens=chunk, overlap=overlap).collect()
    }
    want = {}
    step = chunk - overlap
    for i, n in enumerate(n_toks):
        toks = [f"w{j}" for j in range(n)]
        for idx, s in enumerate(range(0, max(n, 1), step)):
            if s >= n:
                continue
            window = toks[s : s + chunk]
            want[(i, idx)] = (" ".join(window), len(window))
    assert got == want


def test_rolling_fingerprint_codepoint_bound_and_dual(spark):
    """F.ascii yields full Unicode codepoints (max U+10FFFF), not
    bytes: a modulus legal under a byte bound but illegal under the
    codepoint bound must be rejected, the dual fingerprint must match
    the packed two-residue Python value, and non-ASCII input must run
    clean under the default modulus."""
    import pytest
    from spatially_databricks_etl_spark.functions.text import (
        rolling_fingerprint_dual,
    )

    base = 257
    max_ok = ((1 << 63) - 1 - 0x10FFFF) // base + 1
    with pytest.raises(ValueError, match="overflows int64"):
        rolling_fingerprint("t", modulus=max_ok + 1)
    rolling_fingerprint("t", modulus=max_ok)  # boundary accepted

    text = "héllo wörld \U0010FFFF snowman ☃"
    df = spark.createDataFrame([(text,)], "t string")
    got = df.select(rolling_fingerprint_dual("t").alias("fp")).collect()[0]["fp"]
    m0, m1 = (1 << 31) - 1, (1 << 31) - 19
    a0 = a1 = 0
    for ch in text:
        a0 = (a0 * base + ord(ch)) % m0
        a1 = (a1 * base + ord(ch)) % m1
    assert got == a0 * (1 << 31) + a1


LINE = st.text(
    alphabet=st.characters(codec="ascii", exclude_characters="\x00\n"), max_size=12
)


@given(
    docs=st.lists(st.lists(LINE, min_size=1, max_size=5), min_size=1, max_size=8),
    max_df=st.integers(min_value=1, max_value=3),
)
@SETTINGS
def test_dedup_lines_matches_python_reference(spark, docs, max_df):
    from spatially_databricks_etl_spark.operators.curate import dedup_lines

    rows = [(i, "\n".join(ls)) for i, ls in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_removed"])
        for r in dedup_lines(df, max_doc_frequency=max_df).collect()
    }

    # plain-Python reference: note split("\n") of "" is [""], matching
    # Spark's split semantics — the reference mirrors the raw text
    split = {i: t.split("\n") for i, t in rows}
    from collections import Counter

    dfreq = Counter()
    for ls in split.values():
        for ln in set(ls):
            dfreq[ln] += 1
    for i, ls in split.items():
        kept = [ln for ln in ls if dfreq[ln] <= max_df]
        want_text = "\n".join(kept)
        assert got[i] == (want_text, len(ls) - len(kept)), (
            i, ls, got[i], want_text, dfreq,
        )


@given(
    points=st.lists(
        st.integers(min_value=-500, max_value=500), min_size=1, max_size=12
    ),
    intervals=st.lists(
        st.tuples(
            st.integers(min_value=-500, max_value=500),
            st.integers(min_value=0, max_value=300),
        ),
        min_size=1,
        max_size=8,
    ),
    bin_width=st.sampled_from([1.0, 7.0, 50.0, 1000.0]),
)
@SETTINGS
def test_binned_range_join_matches_theta_on_arbitrary_inputs(
    spark, points, intervals, bin_width
):
    """The range-bin rewrite must return exactly the naive theta
    join's pairs for arbitrary points, interval placements (including
    empty, point-width, bin-edge-straddling), and bin widths both
    finer and coarser than the intervals."""
    from spatially_databricks_etl_spark.operators.relational import binned_range_join

    pts = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(points)], "pid long, x double"
    )
    iv = spark.createDataFrame(
        [(i, float(lo), float(lo + ln)) for i, (lo, ln) in enumerate(intervals)],
        "iid long, lo double, hi double",
    )
    got = {
        (r["pid"], r["iid"])
        for r in binned_range_join(
            pts, iv, point_col="x", lo_col="lo", hi_col="hi", bin_width=bin_width
        ).collect()
    }
    want = {
        (pid, iid)
        for pid, v in enumerate(points)
        for iid, (lo, ln) in enumerate(intervals)
        if lo <= v < lo + ln
    }
    assert got == want, (got, want)


@given(
    obs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),  # day offset
            st.integers(min_value=-100, max_value=100),  # value
        ),
        min_size=1,
        max_size=8,
        unique_by=lambda t: t[0],
    )
)
@SETTINGS
def test_resample_interpolate_bounded_and_exact_on_observations(spark, obs):
    """Interpolated fills must (a) reproduce every observed bucket
    exactly, (b) stay within [min, max] of the surrounding
    observations (linear interpolation never overshoots), and (c)
    produce a gapless daily grid between the first and last
    observation."""
    import datetime as dt

    from spatially_databricks_etl_spark.operators.relational import (
        resample_interpolate,
    )

    t0 = dt.datetime(2024, 3, 1)
    rows = [
        (1, t0 + dt.timedelta(days=d, hours=3), float(v)) for d, v in obs
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp_ntz, value double")
    out = sorted(
        (r["bucket"], r["filled_value"], r["is_gap"])
        for r in resample_interpolate(df).collect()
    )
    by_day = dict(sorted(obs))
    days = sorted(by_day)
    assert len(out) == days[-1] - days[0] + 1  # gapless grid
    vals = [v for _, v in sorted(by_day.items())]
    lo, hi = min(vals), max(vals)
    for bucket, filled, is_gap in out:
        d = (bucket - t0).days
        if d in by_day:
            assert not is_gap
            assert filled == float(by_day[d])
        else:
            assert is_gap
            assert lo - 1e-9 <= filled <= hi + 1e-9


@given(
    texts=st.lists(
        st.text(alphabet=st.characters(codec="ascii", exclude_characters="\x00"), max_size=40),
        min_size=1,
        max_size=6,
    ),
    query=st.text(
        alphabet=st.sampled_from("ab c1"), min_size=1, max_size=12
    ),
)
@SETTINGS
def test_bm25_matches_python_reference(spark, texts, query):
    """bm25_topk must reproduce a plain-Python Okapi BM25 reference on
    arbitrary tiny corpora — including empty/token-free docs (excluded
    from postings but counted in N/avgdl), repeated query terms (set
    semantics), and unmatched queries (empty result)."""
    import math
    import re

    from spatially_databricks_etl_spark.operators.retrieval import bm25_topk

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    qs = spark.createDataFrame([(0, query)], "query_id int, query string")
    got = {
        r["doc_id"]: (r["score"], r["rank"])
        for r in bm25_topk(docs, qs, k=100, quantize=6).collect()
    }

    def toks(t):
        return [x for x in re.split(r"[^a-z0-9]+", t.lower()) if x]

    tokenized = [toks(t) for t in texts]
    n = float(len(texts))
    avgdl = sum(len(t) for t in tokenized) / n
    qterms = set(toks(query))
    k1, b = 1.2, 0.75
    want = {}
    for d, tk in enumerate(tokenized):
        score = 0.0
        for term in sorted(qterms):
            tf = float(tk.count(term))
            if tf == 0:
                continue
            df = float(sum(1 for t2 in tokenized if term in t2))
            idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
            score += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(tk) / avgdl))
        if score > 0:
            want[d] = math.floor(score * 1e6 + 0.5)
    assert set(got) == set(want)
    for d, q6 in want.items():
        # 1-ulp slack at the floor boundary: python's sum order can
        # differ from Spark's
        assert abs(got[d][0] - q6) <= 1, (d, got[d][0], q6)
    order = sorted(want, key=lambda d: (-want[d], d))
    assert [d for d, _ in sorted(got.items(), key=lambda kv: kv[1][1])] == order


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),      # user
            st.integers(min_value=0, max_value=20),     # ts
            st.sampled_from(["touchA", "touchB", "conv"]),
        ),
        min_size=1,
        max_size=40,
    )
)
@SETTINGS
def test_attribution_conservation(spark, events):
    """Invariants against a plain-Python replay: last-touch and
    first-touch credit the SAME total (one per segment with >= 1
    touch), and linear credit_e6 resums to exactly that total x 1e6."""
    from spatially_databricks_etl_spark.operators.mining import (
        attribution,
        attribution_linear,
    )

    rows = [(u, t, i, typ) for i, (u, t, typ) in enumerate(events)]
    df = spark.createDataFrame(rows, ["u", "t", "id", "typ"])
    kw = dict(
        seq_col="u", type_col="typ", order_cols=["t", "id"],
        conversion_type="conv",
    )
    # Python reference: count segments containing >= 1 touch.
    per_user: dict[int, list[str]] = {}
    for u, t, i, typ in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        per_user.setdefault(u, []).append(typ)
    credited_segments = 0
    for seq in per_user.values():
        touches = 0
        for typ in seq:
            if typ == "conv":
                credited_segments += 1 if touches else 0
                touches = 0
            else:
                touches += 1
    last_total = sum(
        r.n_credited for r in attribution(df, model="last", **kw).collect()
    )
    first_total = sum(
        r.n_credited for r in attribution(df, model="first", **kw).collect()
    )
    assert last_total == credited_segments
    assert first_total == credited_segments
    linear_total = sum(
        r.credit_e6 for r in attribution_linear(df, **kw).collect()
    )
    assert linear_total == credited_segments * 1_000_000


@given(
    items=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),   # basket
            st.integers(min_value=0, max_value=4),   # item
        ),
        min_size=1,
        max_size=30,
    )
)
@SETTINGS
def test_assoc_rules_match_python_reference(spark, items):
    """Confidence/lift against a from-scratch Python replay on
    arbitrary basket sets (no pruning, so every pair is checked)."""
    import math as m

    from spatially_databricks_etl_spark.operators.mining import assoc_rules

    df = spark.createDataFrame(items, ["b", "i"])
    got = {
        (r.antecedent, r.consequent): r
        for r in assoc_rules(
            df, basket_col="b", item_col="i",
            min_item_count=1, min_pair_count=1,
        ).collect()
    }
    baskets: dict[int, set[int]] = {}
    for b, i in items:
        baskets.setdefault(b, set()).add(i)
    nb = len(baskets)
    item_n: dict[int, int] = {}
    pair_n: dict[tuple[int, int], int] = {}
    for s in baskets.values():
        for i in s:
            item_n[i] = item_n.get(i, 0) + 1
        for i in s:
            for j in s:
                if i < j:
                    pair_n[(i, j)] = pair_n.get((i, j), 0) + 1
    want = {}
    for (i, j), sup in pair_n.items():
        for a, c in ((i, j), (j, i)):
            want[(str(a), str(c))] = (
                sup,
                m.floor(sup / item_n[a] * 1e6 + 0.5),
                m.floor(sup * nb / (item_n[a] * item_n[c]) * 1e6 + 0.5),
            )
    got_simple = {
        (str(k[0]), str(k[1])): (v.support_n, v.conf_e6, v.lift_e6)
        for k, v in got.items()
    }
    want_keys = {(str(a), str(c)) for (a, c) in want}
    assert set(got_simple) == want_keys
    for k in want:
        assert got_simple[k] == want[k], (k, got_simple[k], want[k])


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),
            st.integers(min_value=0, max_value=2),
        ),
        min_size=1,
        max_size=30,
    )
)
@SETTINGS
def test_mutual_info_total_nonnegative_and_matches_python(spark, pairs):
    """MI = sum of contributions must be >= 0 (within per-cell floor
    slack) and each cell must match the Python ln replay exactly."""
    import math as m

    from spatially_databricks_etl_spark.operators.profile import mutual_info

    df = spark.createDataFrame(pairs, ["x", "y"])
    out = mutual_info(df, col_x="x", col_y="y").collect()
    joint: dict[tuple[int, int], int] = {}
    for x, y in pairs:
        joint[(x, y)] = joint.get((x, y), 0) + 1
    n = len(pairs)
    nx: dict[int, int] = {}
    ny: dict[int, int] = {}
    for (x, y), c in joint.items():
        nx[x] = nx.get(x, 0) + c
        ny[y] = ny.get(y, 0) + c
    for r in out:
        x, y = int(r.x), int(r.y)
        pmi = m.log(joint[(x, y)] * n / (nx[x] * ny[y]))
        assert r.pmi_e6 == m.floor(pmi * 1e6 + 0.5), (x, y)
        assert r.mi_contrib_e6 == m.floor(
            (joint[(x, y)] / n) * pmi * 1e6 + 0.5
        ), (x, y)
    assert sum(r.mi_contrib_e6 for r in out) >= -len(out)


@given(
    values=st.lists(
        st.floats(
            min_value=-100, max_value=100, allow_nan=False, allow_infinity=False
        ),
        min_size=8,
        max_size=40,
    )
)
@SETTINGS
def test_ts_changepoint_matches_python_reference(spark, values):
    """The exact-integer CUSUM against a from-scratch Python replay on
    arbitrary hourly series: scaled sums, S'_t = n·C_t − t·T, earliest
    argmax, and the e6-floored D — all must agree exactly (the whole
    point of the decimal(38,0) discipline)."""
    import math

    from spatially_databricks_etl_spark.operators.profile import ts_changepoint

    rows = [
        (f"2024-03-{1 + i // 24:02d} {i % 24:02d}:00:00", "k", v)
        for i, v in enumerate(values)
    ]
    df = spark.createDataFrame(rows, "ts_s string, k string, value double").select(
        F.col("ts_s").cast("timestamp").alias("ts"), "k", "value"
    )
    out = ts_changepoint(
        df, ts_col="ts", value_col="value", key_cols=["k"],
        bucket="hour", min_buckets=8,
    ).collect()
    assert len(out) == 1
    r = out[0]

    ys = [math.floor(v * 100 + 0.5) for v in values]
    n, tot = len(ys), sum(ys)
    cum, best, best_i = 0, -1, -1
    for i, y in enumerate(ys, start=1):
        cum += y
        s = abs(n * cum - i * tot)
        if s > best:
            best, best_i = s, i
    assert r["n_buckets"] == n and r["s_abs_max"] == str(best)
    want_cp = (1 + (best_i - 1) // 24, (best_i - 1) % 24)
    assert (r["cp_bucket"].day, r["cp_bucket"].hour) == want_cp
    if tot != 0:
        want_d = math.floor(best / float(n * abs(tot)) * 1e6 + 0.5)
        assert r["cusum_e6"] == want_d
    else:
        assert r["cusum_e6"] is None


@given(
    run=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),    # query
            st.integers(min_value=0, max_value=15),   # doc
        ),
        min_size=1,
        max_size=25,
        unique=True,
    ),
    rels=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),    # query
            st.integers(min_value=0, max_value=15),   # doc
            st.integers(min_value=0, max_value=3),    # graded rel
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda t: (t[0], t[1]),
    ),
)
@SETTINGS
def test_retrieval_metrics_match_python_reference(spark, run, rels):
    """recall/MRR/nDCG against a from-scratch Python replay on
    arbitrary runs and graded judgment sets — including rel<=0 rows
    ignored, queries missing from the run, and the ln/ln2 DCG form."""
    import math

    from spatially_databricks_etl_spark.operators.retrieval import retrieval_metrics

    # rank within each query by doc id (any deterministic order works)
    by_q: dict[int, list[int]] = {}
    for q, d in sorted(run):
        by_q.setdefault(q, []).append(d)
    run_rows = [
        (q, d, i + 1) for q, docs in by_q.items() for i, d in enumerate(docs)
    ]
    run_df = spark.createDataFrame(run_rows, "query_id int, doc_id int, rank int")
    rel_df = spark.createDataFrame(rels, "query_id int, doc_id int, rel int")
    K = 5
    got = {
        r["query_id"]: r for r in retrieval_metrics(run_df, rel_df, k=K).collect()
    }

    LN2 = 0.6931471805599453

    def log2(x):
        return math.log(x) / LN2

    relevant: dict[int, dict[int, int]] = {}
    for q, d, rel in rels:
        if rel > 0:
            relevant.setdefault(q, {})[d] = rel
    assert set(got) == set(relevant)
    for q, rd in relevant.items():
        topk = [(d, i + 1) for i, d in enumerate(by_q.get(q, [])) if i < K]
        hits = [(d, rk) for d, rk in topk if d in rd]
        n_rel = len(rd)
        r = got[q]
        assert r["n_rel"] == n_rel and r["n_hits"] == len(hits)
        assert r["recall_e6"] == math.floor(len(hits) / n_rel * 1e6 + 0.5)
        mrr = 1.0 / min(rk for _, rk in hits) if hits else 0.0
        assert r["mrr_e6"] == math.floor(mrr * 1e6 + 0.5)
        dcg = sum((2.0 ** rd[d] - 1.0) / log2(rk + 1.0) for d, rk in hits)
        ideal = sorted(rd.items(), key=lambda t: (-t[1], t[0]))[:K]
        idcg = sum(
            (2.0 ** rel - 1.0) / log2(i + 2.0) for i, (_, rel) in enumerate(ideal)
        )
        ndcg = dcg / idcg if hits else 0.0
        assert r["ndcg_e6"] == math.floor(ndcg * 1e6 + 0.5)


@given(
    values=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=47),   # hour slot (2 days)
            st.floats(min_value=-50, max_value=50, allow_nan=False,
                      allow_infinity=False),
        ),
        min_size=4,
        max_size=40,
    )
)
@SETTINGS
def test_ts_anomaly_matches_python_reference(spark, values):
    """Seasonal-naive scoring against a from-scratch Python replay on
    arbitrary (possibly multi-event, gappy) hourly data: exact scaled
    bucket sums, the t−24h equi-join (gaps align correctly — no
    positional lag), per-key median/MAD with linear interpolation,
    and the MAD=0 → null-z degenerate."""
    import math
    import statistics
    from collections import defaultdict

    from spatially_databricks_etl_spark.operators.profile import ts_anomaly

    rows = [
        (f"2024-03-{1 + h // 24:02d} {h % 24:02d}:00:00", "k", v)
        for h, v in values
    ]
    df = spark.createDataFrame(rows, "ts_s string, k string, value double").select(
        F.col("ts_s").cast("timestamp").alias("ts"), "k", "value"
    )
    out = {
        (r["bucket"].day, r["bucket"].hour): r
        for r in ts_anomaly(
            df, ts_col="ts", value_col="value", key_cols=["k"],
            bucket="hour", period=24, threshold=3.5,
        ).collect()
    }

    sums: dict = defaultdict(int)
    for h, v in values:
        sums[h] += math.floor(v * 100 + 0.5)
    y = {h: s / 100 for h, s in sums.items()}
    # residual replays the operator's EXACT form — integer subtraction
    # then ONE division (not the difference of two rounded divisions,
    # which can land an ulp away)
    scored = {h: (y[h], y[h - 24], (sums[h] - sums[h - 24]) / 100)
              for h in y if h - 24 in y}
    assert set(out) == {(1 + h // 24, h % 24) for h in scored}
    if scored:
        res = [r for _, _, r in scored.values()]
        med = statistics.median(res)
        mad = statistics.median([abs(r - med) for r in res])
        for h, (yy, yp, r) in scored.items():
            got = out[(1 + h // 24, h % 24)]
            assert got["y"] == yy and got["y_prev"] == yp and got["residual"] == r
            if mad == 0.0:
                assert got["z_e6"] is None and got["is_anomaly"] is None
            else:
                z = 0.6745 * (r - med) / mad
                assert got["z_e6"] == math.floor(z * 1e6 + 0.5)
                assert got["is_anomaly"] == (abs(z) > 3.5)


@given(
    lts=st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=12),
    rts=st.lists(st.integers(min_value=0, max_value=50), min_size=0, max_size=12),
    tol=st.one_of(st.none(), st.integers(min_value=1, max_value=15)),
)
@SETTINGS
def test_asof_cogroup_nearest_tolerance_matches_python(spark, lts, rts, tol):
    """The cogroup as-of's ``nearest`` direction and ``tolerance``
    bound against a from-scratch replay of the PINNED tie rules:
    backward candidate = LATEST right row at-or-before (last among
    equal times), forward candidate = EARLIEST at-or-after (first
    among equal times), equidistant tie -> backward, and any
    candidate farther than ``tolerance`` annotates null. Duplicate
    right times carry distinct payloads so the among-equals choice is
    observable."""
    from spatially_databricks_etl_spark.operators.udfs import asof_join_cogroup

    left = spark.createDataFrame(
        [(i, 1, int(t)) for i, t in enumerate(lts)], "event_id int, k int, lt long"
    )
    right = spark.createDataFrame(
        [(1, int(t), j) for j, t in enumerate(rts)], "k int, rt long, payload int"
    )
    out = {
        r["event_id"]: (r["rt"], r["payload"])
        for r in asof_join_cogroup(
            left,
            right,
            on="k",
            left_time="lt",
            right_time="rt",
            right_values=["rt", "payload"],
            direction="nearest",
            tolerance=tol,
        ).collect()
    }

    # replay: right rows in (time, input order); candidates per rule
    rr = sorted(range(len(rts)), key=lambda j: (rts[j], j))
    for i, lt in enumerate(lts):
        back = fwd = None
        for j in rr:
            if rts[j] <= lt:
                back = j  # last among <= lt in (time, input order)
        for j in rr:
            if rts[j] >= lt:
                fwd = j  # first among >= lt
                break
        cand = None
        if back is not None and fwd is not None:
            cand = back if (lt - rts[back]) <= (rts[fwd] - lt) else fwd
        else:
            cand = back if back is not None else fwd
        if cand is not None and tol is not None and abs(rts[cand] - lt) > tol:
            cand = None
        want = (rts[cand], cand) if cand is not None else (None, None)
        assert out[i] == want, (i, lt, rts, tol, out[i], want)


@given(
    values=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=96),
            st.floats(min_value=-50, max_value=50, allow_nan=False,
                      allow_infinity=False),
        ),
        min_size=4,
        max_size=40,
    )
)
@SETTINGS
def test_ts_anomaly_detrended_matches_python_reference(spark, values):
    """The detrended form against a from-scratch replay on arbitrary
    gappy hourly data: the trailing-6-OBSERVED-bucket trend (ROWS
    frame, current excluded), the pinned float expression tree
    (exact integer sum difference minus the trend difference, each
    trend ONE division of exact operands), empty-frame buckets
    unscored on either side of the seasonal match, and the
    median/MAD/z tail."""
    import math
    import statistics
    from collections import defaultdict

    from spatially_databricks_etl_spark.operators.profile import ts_anomaly

    W = 6
    rows = [
        (f"2024-03-{1 + h // 24:02d} {h % 24:02d}:00:00", "k", v)
        for h, v in values
    ]
    df = spark.createDataFrame(rows, "ts_s string, k string, value double").select(
        F.col("ts_s").cast("timestamp").alias("ts"), "k", "value"
    )
    out = {
        ((r["bucket"].day - 1) * 24 + r["bucket"].hour): r
        for r in ts_anomaly(
            df, ts_col="ts", value_col="value", key_cols=["k"],
            bucket="hour", period=24, threshold=3.5, detrend_window=W,
        ).collect()
    }

    sums: dict = defaultdict(int)
    for h, v in values:
        sums[h] += math.floor(v * 100 + 0.5)
    grid = sorted(sums)
    pos = {h: i for i, h in enumerate(grid)}
    # trailing trend over the previous W OBSERVED buckets (scaled ints)
    tsum = {h: sum(sums[g] for g in grid[max(0, pos[h] - W): pos[h]]) for h in grid}
    tcnt = {h: min(pos[h], W) for h in grid}
    scored = {}
    for h in grid:
        p = h - 24
        if p in sums and tcnt[h] > 0 and tcnt[p] > 0:
            r = (
                (sums[h] - sums[p])
                - (tsum[h] / tcnt[h] - tsum[p] / tcnt[p])
            ) / 100
            scored[h] = r
    assert set(out) == set(scored)
    if scored:
        res = list(scored.values())
        med = statistics.median(res)
        mad = statistics.median([abs(r - med) for r in res])
        for h, r in scored.items():
            got = out[h]
            assert got["residual"] == r, (h, got["residual"], r)
            if mad == 0.0:
                assert got["z_e6"] is None and got["is_anomaly"] is None
            else:
                z = 0.6745 * (r - med) / mad
                assert got["z_e6"] == math.floor(z * 1e6 + 0.5)
                assert got["is_anomaly"] == (abs(z) > 3.5)


@given(
    lts=st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=12),
    rts=st.sets(st.integers(min_value=0, max_value=50), min_size=0, max_size=12),
    tol=st.one_of(st.none(), st.integers(min_value=1, max_value=15)),
)
@SETTINGS
def test_asof_window_nearest_tolerance_matches_python(spark, lts, rts, tol):
    """The WINDOW form's ``nearest`` + ``tolerance`` against the same
    from-scratch replay that pins the cogroup path: closest candidate
    by absolute distance, equidistant -> backward, out-of-tolerance ->
    null. Right times are DISTINCT here (the window form's
    among-equal-times payload pick is documented tie-nondeterministic;
    the cogroup property test covers duplicate times)."""
    from spatially_databricks_etl_spark.operators.relational import asof_join

    rlist = sorted(rts)
    left = spark.createDataFrame(
        [(i, 1, int(t)) for i, t in enumerate(lts)], "event_id int, k int, lt long"
    )
    right = spark.createDataFrame(
        [(1, int(t), j) for j, t in enumerate(rlist)], "k int, rt long, payload int"
    ) if rlist else spark.createDataFrame([], "k int, rt long, payload int")
    out = {
        r["event_id"]: (r["rt"], r["payload"])
        for r in asof_join(
            left,
            right,
            on="k",
            left_time="lt",
            right_time="rt",
            right_values=["rt", "payload"],
            direction="nearest",
            tolerance=tol,
        ).collect()
    }
    for i, lt in enumerate(lts):
        back = max((t for t in rlist if t <= lt), default=None)
        fwd = min((t for t in rlist if t >= lt), default=None)
        if back is not None and fwd is not None:
            cand = back if (lt - back) <= (fwd - lt) else fwd
        else:
            cand = back if back is not None else fwd
        if cand is not None and tol is not None and abs(cand - lt) > tol:
            cand = None
        want = (cand, rlist.index(cand)) if cand is not None else (None, None)
        assert out[i] == want, (i, lt, rlist, tol, out[i], want)


@given(
    refv=st.lists(
        st.lists(
            st.floats(min_value=-10, max_value=10, allow_nan=False,
                      allow_infinity=False, width=32),
            min_size=3, max_size=3,
        ),
        min_size=1, max_size=8,
    ),
    curv=st.lists(
        st.lists(
            st.floats(min_value=-10, max_value=10, allow_nan=False,
                      allow_infinity=False, width=32),
            min_size=3, max_size=3,
        ),
        min_size=1, max_size=8,
    ),
)
@SETTINGS
def test_drift_embedding_matches_python_reference(spark, refv, curv):
    """drift_embedding against a from-scratch replay on arbitrary
    float32 vectors: per-dimension exact scaled-integer sums, the
    counts-cancel centroid cosine, the common-denominator mean-shift
    L2, and the e6 floors — every double op on exact operands in the
    same order."""
    import math

    from spatially_databricks_etl_spark.operators.profile import drift_embedding

    ref = spark.createDataFrame([(v,) for v in refv], "embedding array<float>")
    cur = spark.createDataFrame([(v,) for v in curv], "embedding array<float>")
    row = drift_embedding(ref, cur).collect()[0]

    import struct

    def f32(x):  # the float32 the fixture column stores, widened back
        return struct.unpack("f", struct.pack("f", x))[0]

    def sums(vs):
        out = [0, 0, 0]
        for v in vs:
            for d in range(3):
                out[d] += math.floor(f32(v[d]) * 1e6 + 0.5)
        return out

    sr, sc = sums(refv), sums(curv)
    nr, nc = len(refv), len(curv)
    dot = sum(a * b for a, b in zip(sr, sc))
    qr = sum(a * a for a in sr)
    qc = sum(b * b for b in sc)
    num2 = sum((a * nc - b * nr) ** 2 for a, b in zip(sr, sc))
    assert (row["n_ref"], row["n_cur"]) == (nr, nc)
    if qr > 0 and qc > 0:
        cos = float(dot) / (math.sqrt(float(qr)) * math.sqrt(float(qc)))
        assert row["centroid_cos_e6"] == math.floor(cos * 1e6 + 0.5)
    else:
        assert row["centroid_cos_e6"] is None
    l2 = math.sqrt(float(num2)) / float(nr * nc) / 1e6
    assert row["mean_shift_l2_e6"] == math.floor(l2 * 1e6 + 0.5)


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6)),
        min_size=1,
        max_size=14,
    ),
    iters=st.integers(1, 3),
)
@SETTINGS
def test_label_propagation_matches_python_reference(spark, edges, iters):
    """label_propagation against a from-scratch synchronous replay on
    arbitrary small graphs: symmetrize + strip self-loops, then
    ``iters`` rounds of label(v) = most frequent neighbor label from
    the PREVIOUS round, ties to the smallest label — the exact
    contract the unrolled-SQL oracle encodes."""
    from collections import Counter

    from spatially_databricks_etl_spark.operators.curate import label_propagation

    sym = {(a, b) for a, b in edges if a != b}
    sym |= {(b, a) for a, b in sym}
    if not sym:
        return  # all self-loops: operator has no nodes to label
    df = spark.createDataFrame(sorted(sym), "src long, dst long")
    got = {
        r["node"]: r["community"]
        for r in label_propagation(df, iterations=iters).collect()
    }

    nbrs: dict = {}
    for a, b in sym:
        nbrs.setdefault(a, []).append(b)
    labels = {v: v for v in nbrs}
    for _ in range(iters):
        nxt = {}
        for v, ns in nbrs.items():
            cnt = Counter(labels[u] for u in ns)
            top = max(cnt.values())
            nxt[v] = min(l for l, c in cnt.items() if c == top)
        labels = nxt
    assert got == labels, (sorted(sym), iters)


@given(
    vecs=st.lists(
        st.one_of(
            st.none(),
            st.lists(
                st.one_of(
                    st.floats(min_value=-10, max_value=10, allow_nan=False,
                              allow_infinity=False, width=32),
                    st.just(float("nan")),
                    st.just(float("inf")),
                ),
                max_size=4,
            ),
        ),
        min_size=1,
        max_size=10,
    )
)
@SETTINGS
def test_embedding_quality_matches_python_reference(spark, vecs):
    """embedding_quality against a from-scratch replay on arbitrary
    float32 vectors including nulls, empties, NaN/Inf components and
    ragged dimensions: every counter plus the exact-integer RMS norm
    formula (floor-scale, square, exact sums, one division + sqrt +
    e6 floor)."""
    import math
    import struct

    from spatially_databricks_etl_spark.operators.profile import embedding_quality

    df = spark.createDataFrame([(v,) for v in vecs], "embedding array<float>")
    r = embedding_quality(df).collect()[0]

    def f32(x):
        return struct.unpack("f", struct.pack("f", x))[0]

    n_null = sum(1 for v in vecs if v is None)
    n_empty = sum(1 for v in vecs if v is not None and len(v) == 0)
    nonfin = [
        v
        for v in vecs
        if v is not None
        and len(v) > 0
        and any(math.isnan(x) or math.isinf(x) for x in v)
    ]
    valid = [
        v
        for v in vecs
        if v is not None
        and len(v) > 0
        and not any(math.isnan(x) or math.isinf(x) for x in v)
    ]
    scaled = [
        [math.floor(f32(x) * 1e6 + 0.5) for x in v] for v in valid
    ]
    assert (
        r["n_rows"],
        r["n_null_vec"],
        r["n_empty_vec"],
        r["n_nonfinite_vec"],
    ) == (len(vecs), n_null, n_empty, len(nonfin))
    if valid:
        assert (r["dim_min"], r["dim_max"]) == (
            min(len(v) for v in valid),
            max(len(v) for v in valid),
        )
        assert r["n_zero_vec"] == sum(
            1 for c in scaled if max(abs(x) for x in c) == 0
        )
        sum_sq = sum(x * x for c in scaled for x in c)
        want = math.floor(
            math.sqrt(float(sum_sq) / (float(len(valid)) * 1e12)) * 1e6 + 0.5
        )
        assert r["norm_rms_e6"] == want
    else:
        assert r["dim_min"] is None and r["norm_rms_e6"] is None


@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["append", "delete", "upsert", "compact"]),
            st.integers(0, 9),
            st.integers(0, 5),
        ),
        min_size=1,
        max_size=4,
    )
)
@settings(
    max_examples=5,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_minhash_index_lifecycle_matches_model(spark, tmp_path_factory, ops):
    """MODEL-BASED lifecycle test for the persisted MinHash index:
    a random sequence of append / delete / upsert / compact mutations
    is mirrored against a plain dict model of the live corpus
    (honoring each operation's caller contract — append only ever
    NEW ids, delete only live ids), and at the end the mutated
    index's search results must equal a FRESH index built on the
    model's corpus. This is the class of invariant that caught the
    r11 tombstone-code-loss trap: any interleaving that strands or
    resurrects stale rows diverges from the rebuild."""
    from spatially_databricks_etl_spark.operators.dedup import (
        minhash_append_index,
        minhash_compact_index,
        minhash_delete_index,
        minhash_search_index,
        minhash_upsert_index,
        minhash_write_index,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog again and again",
        "pack my box with five dozen liquor jugs before the deadline",
        "sphinx of black quartz judge my vow tonight under the stars",
        "how vexingly quick daft zebras jump across the frozen river",
        "bright vixens jump while the dozy fowl quack in the morning",
        "crazy frederick bought many very exquisite opal jewels abroad",
    ]
    model = {i: texts[i % len(texts)] + f" doc {i}" for i in range(4)}
    next_new = 100

    base = tmp_path_factory.mktemp("mh_model")
    live = str(base / "live")
    minhash_write_index(
        spark.createDataFrame(list(model.items()), "doc_id long, text string"),
        live,
    )

    for kind, pick, tpick in ops:
        if kind == "append":
            nid = next_new
            next_new += 1
            model[nid] = texts[tpick] + f" appended {nid}"
            minhash_append_index(
                spark.createDataFrame(
                    [(nid, model[nid])], "doc_id long, text string"
                ),
                live,
            )
        elif kind == "delete":
            if not model:
                continue
            did = sorted(model)[pick % len(model)]
            del model[did]
            minhash_delete_index(
                spark.createDataFrame([(did,)], "doc_id long").select("doc_id"),
                live,
            )
        elif kind == "upsert":
            uid = (
                sorted(model)[pick % len(model)]
                if model and pick % 2 == 0
                else 200 + pick
            )
            model[uid] = texts[tpick] + f" upserted {uid} {tpick}"
            minhash_upsert_index(
                spark.createDataFrame(
                    [(uid, model[uid])], "doc_id long, text string"
                ),
                live,
            )
        else:
            minhash_compact_index(spark, live)

    rebuilt = str(base / "rebuilt")
    minhash_write_index(
        spark.createDataFrame(
            list(model.items()) or [(999999, "placeholder corpus row")],
            "doc_id long, text string",
        ),
        rebuilt,
    )
    probes = spark.createDataFrame(
        [(700 + i, t + f" doc {i}") for i, t in enumerate(texts)],
        "doc_id long, text string",
    )
    got = sorted(
        map(tuple, minhash_search_index(probes, live, threshold=0.4).collect())
    )
    want = sorted(
        map(tuple, minhash_search_index(probes, rebuilt, threshold=0.4).collect())
    )
    if not model:
        # empty model: rebuilt used a placeholder; live must simply
        # return no matches for ids outside the placeholder
        got_ids = {g[1] for g in got}
        assert not got_ids
    else:
        assert got == want, (ops, sorted(model))


@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["append", "delete", "upsert", "compact"]),
            st.integers(0, 9),
            st.integers(0, 5),
        ),
        min_size=1,
        max_size=4,
    )
)
@settings(
    max_examples=5,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_bm25_index_lifecycle_matches_model(spark, tmp_path_factory, ops):
    """MODEL-BASED lifecycle test for the persisted BM25 index — the
    stats-carrying family member, where every mutation must keep
    (n_docs, sum_dl, per-term df) EXACTLY equal to a rebuild's, and
    replacement is by ingest GENERATION rather than physical row
    removal: random append/delete/upsert/compact sequences mirrored
    against a dict model, final search results (scores included, e6
    quantized) must equal a fresh index built on the model corpus."""
    from spatially_databricks_etl_spark.operators.retrieval import (
        bm25_append_index,
        bm25_compact_index,
        bm25_delete_index,
        bm25_search_index,
        bm25_upsert_index,
        bm25_write_index,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog again and again",
        "pack my box with five dozen liquor jugs before the deadline",
        "sphinx of black quartz judge my vow tonight under the stars",
        "how vexingly quick daft zebras jump across the frozen river",
        "bright vixens jump while the dozy fowl quack in the morning",
        "crazy frederick bought many very exquisite opal jewels abroad",
    ]
    model = {i: texts[i % len(texts)] + f" doc {i}" for i in range(4)}
    next_new = 100

    base = tmp_path_factory.mktemp("bm_model")
    live = str(base / "live")
    bm25_write_index(
        spark.createDataFrame(list(model.items()), "doc_id long, text string"),
        live,
    )

    for kind, pick, tpick in ops:
        if kind == "append":
            nid = next_new
            next_new += 1
            model[nid] = texts[tpick] + f" appended {nid}"
            bm25_append_index(
                spark.createDataFrame(
                    [(nid, model[nid])], "doc_id long, text string"
                ),
                live,
            )
        elif kind == "delete":
            if not model:
                continue
            did = sorted(model)[pick % len(model)]
            del model[did]
            bm25_delete_index(
                spark.createDataFrame([(did,)], "doc_id long").select("doc_id"),
                live,
            )
        elif kind == "upsert":
            uid = (
                sorted(model)[pick % len(model)]
                if model and pick % 2 == 0
                else 200 + pick
            )
            model[uid] = texts[tpick] + f" upserted {uid} {tpick}"
            bm25_upsert_index(
                spark.createDataFrame(
                    [(uid, model[uid])], "doc_id long, text string"
                ),
                live,
            )
        else:
            bm25_compact_index(spark, live)

    if not model:
        return  # bm25_write_index on an empty corpus is out of scope
    rebuilt = str(base / "rebuilt")
    bm25_write_index(
        spark.createDataFrame(list(model.items()), "doc_id long, text string"),
        rebuilt,
    )
    queries = spark.createDataFrame(
        [(i, " ".join(t.split()[:5])) for i, t in enumerate(texts)],
        "query_id int, query string",
    )
    got = sorted(
        map(tuple, bm25_search_index(queries, live, k=10, quantize=6).collect())
    )
    want = sorted(
        map(
            tuple, bm25_search_index(queries, rebuilt, k=10, quantize=6).collect()
        )
    )
    assert got == want, (ops, sorted(model))


@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["append", "delete", "upsert", "compact"]),
            st.integers(0, 9),
            st.integers(0, 5),
        ),
        min_size=1,
        max_size=4,
    )
)
@settings(
    max_examples=5,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_ivf_index_lifecycle_matches_model(spark, tmp_path_factory, ops):
    """MODEL-BASED lifecycle test for the persisted IVF index — the
    partition-scoped physical-replacement family member: random
    append/delete/upsert/compact sequences mirrored against a dict
    model of the live vectors; final search results (cells pinned by
    the same centroids on both sides) must equal a fresh index built
    on the model corpus."""
    from spatially_databricks_etl_spark.operators.similarity import (
        ivf_append_index,
        ivf_compact_index,
        ivf_delete_index,
        ivf_search_index,
        ivf_upsert_index,
        ivf_write_index,
    )

    def vec(seed: int) -> list:
        # deterministic, well-spread unit-ish vectors
        return [
            round(((seed * 31 + d * 17) % 13 - 6) / 6.0, 3) for d in range(8)
        ]

    cents = [vec(50), vec(51), vec(52)]
    model = {i: vec(i) for i in range(5)}
    next_new = 100

    base = tmp_path_factory.mktemp("ivf_model")
    live = str(base / "live")

    def frame(items):
        return spark.createDataFrame(
            [(k, v) for k, v in items], "vec_id long, embedding array<float>"
        )

    ivf_write_index(frame(model.items()), live, centroids=cents)

    for kind, pick, tpick in ops:
        if kind == "append":
            nid = next_new
            next_new += 1
            model[nid] = vec(nid + tpick)
            ivf_append_index(frame([(nid, model[nid])]), live)
        elif kind == "delete":
            if not model:
                continue
            did = sorted(model)[pick % len(model)]
            del model[did]
            ivf_delete_index(
                spark.createDataFrame([(did,)], "vec_id long").select("vec_id"),
                live,
            )
        elif kind == "upsert":
            uid = (
                sorted(model)[pick % len(model)]
                if model and pick % 2 == 0
                else 200 + pick
            )
            model[uid] = vec(uid * 7 + tpick)
            ivf_upsert_index(frame([(uid, model[uid])]), live)
        else:
            ivf_compact_index(spark, live)

    if not model:
        return
    rebuilt = str(base / "rebuilt")
    ivf_write_index(frame(model.items()), rebuilt, centroids=cents)
    queries = spark.createDataFrame(
        [(i, vec(i + 300)) for i in range(3)],
        "query_id long, embedding array<float>",
    )
    got = sorted(
        map(tuple, ivf_search_index(queries, live, k=5, nprobe=3).collect())
    )
    want = sorted(
        map(tuple, ivf_search_index(queries, rebuilt, k=5, nprobe=3).collect())
    )
    assert got == want, (ops, sorted(model))


@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["append", "delete", "upsert", "compact"]),
            st.integers(0, 9),
            st.integers(0, 5),
        ),
        min_size=1,
        max_size=4,
    )
)
@settings(
    max_examples=5,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_simhash_index_lifecycle_matches_model(spark, tmp_path_factory, ops):
    """MODEL-BASED lifecycle test for the persisted SimHash index —
    the second two-store (codes-as-locator) family member, subject to
    the same tombstone-code invariant the r11 MinHash trap taught:
    random append/delete/upsert/compact sequences mirrored against a
    dict model; final search results must equal a fresh build on the
    model corpus."""
    from spatially_databricks_etl_spark.operators.dedup import (
        simhash_append_index,
        simhash_compact_index,
        simhash_delete_index,
        simhash_search_index,
        simhash_upsert_index,
        simhash_write_index,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog again and again",
        "pack my box with five dozen liquor jugs before the deadline",
        "sphinx of black quartz judge my vow tonight under the stars",
        "how vexingly quick daft zebras jump across the frozen river",
        "bright vixens jump while the dozy fowl quack in the morning",
        "crazy frederick bought many very exquisite opal jewels abroad",
    ]
    model = {i: texts[i % len(texts)] + f" doc {i}" for i in range(4)}
    next_new = 100

    base = tmp_path_factory.mktemp("sh_model")
    live = str(base / "live")
    simhash_write_index(
        spark.createDataFrame(list(model.items()), "doc_id long, text string"),
        live,
    )

    for kind, pick, tpick in ops:
        if kind == "append":
            nid = next_new
            next_new += 1
            model[nid] = texts[tpick] + f" appended {nid}"
            simhash_append_index(
                spark.createDataFrame(
                    [(nid, model[nid])], "doc_id long, text string"
                ),
                live,
            )
        elif kind == "delete":
            if not model:
                continue
            did = sorted(model)[pick % len(model)]
            del model[did]
            simhash_delete_index(
                spark.createDataFrame([(did,)], "doc_id long").select("doc_id"),
                live,
            )
        elif kind == "upsert":
            uid = (
                sorted(model)[pick % len(model)]
                if model and pick % 2 == 0
                else 200 + pick
            )
            model[uid] = texts[tpick] + f" upserted {uid} {tpick}"
            simhash_upsert_index(
                spark.createDataFrame(
                    [(uid, model[uid])], "doc_id long, text string"
                ),
                live,
            )
        else:
            simhash_compact_index(spark, live)

    if not model:
        return
    rebuilt = str(base / "rebuilt")
    simhash_write_index(
        spark.createDataFrame(list(model.items()), "doc_id long, text string"),
        rebuilt,
    )
    probes = spark.createDataFrame(
        [(700 + i, t + f" doc {i}") for i, t in enumerate(texts)],
        "doc_id long, text string",
    )
    got = sorted(
        map(tuple, simhash_search_index(probes, live, max_hamming=3).collect())
    )
    want = sorted(
        map(
            tuple, simhash_search_index(probes, rebuilt, max_hamming=3).collect()
        )
    )
    assert got == want, (ops, sorted(model))


@given(
    texts=st.lists(
        st.text(alphabet="ab cd", min_size=0, max_size=24),
        min_size=1,
        max_size=6,
    ),
    merges=st.integers(1, 3),
)
@SETTINGS
def test_bpe_train_matches_python_reference(spark, texts, merges):
    """bpe_train against a from-scratch Python BPE replay on arbitrary
    tiny corpora over a deliberately collision-heavy alphabet (lots of
    arg-max ties and self-overlapping pairs like (a,a) on 'aaa'):
    word-frequency weighting, (count DESC, left, right) tie-break, and
    leftmost-non-overlapping greedy merge must all agree — the exact
    contract the unrolled-SQL oracle encodes."""
    import re
    from collections import Counter

    from spatially_databricks_etl_spark.operators.curate import bpe_train

    wf = Counter(w for t in texts for w in re.findall(r"[a-z]+", t.lower()))
    if not wf:
        return  # no words: nothing to train on
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        (r["round"], r["left_sym"], r["right_sym"], r["pair_count"])
        for r in bpe_train(df, merges=merges).orderBy("round").collect()
    ]

    syms = {w: list(w) for w in wf}
    want = []
    for rnd in range(1, merges + 1):
        pc = Counter()
        for w, s in syms.items():
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += wf[w]
        if not pc:
            break  # every word is a single symbol: no pairs left
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((rnd, a, b, cnt))
        for w, s in syms.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    assert got == want, (texts, got, want)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 1),          # query group
            st.integers(-20, 20),       # rel
            st.lists(st.integers(-5, 5), min_size=3, max_size=3),  # vec
        ),
        min_size=1,
        max_size=10,
    ),
    k=st.integers(1, 4),
)
@SETTINGS
def test_mmr_rerank_matches_python_reference(spark, rows, k):
    """mmr_rerank against a from-scratch greedy replay on arbitrary
    small candidate sets (negative rels/sims included): λ=7/10
    integer scoring, max-sim-over-picked (empty-max 0 on the first
    pick only — NOT zero-clamped after), smallest-id tie-break."""
    from spatially_databricks_etl_spark.operators.retrieval import mmr_rerank

    data = [
        (q, i, rel, vec) for i, (q, rel, vec) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "query_id long, doc_id long, rel long, vec array<long>"
    )
    got = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["mmr_score"])
        for r in mmr_rerank(df, k=k).collect()
    )

    want = []
    for q in {d[0] for d in data}:
        cand = [(i, rel, vec) for (qq, i, rel, vec) in data if qq == q]
        picked = []
        for rank in range(1, min(k, len(cand)) + 1):
            best = None
            for i, rel, vec in cand:
                if i in [p[0] for p in picked]:
                    continue
                if picked:
                    ms = max(
                        sum(a * b for a, b in zip(vec, pv))
                        for _, _, pv in picked
                    )
                    score = 7 * rel - 3 * ms
                else:
                    score = 7 * rel
                if best is None or (-score, i) < (-best[1], best[0]):
                    best = (i, score)
            want.append((q, rank, best[0], best[1]))
            picked.append(
                next((i, rel, vec) for i, rel, vec in cand if i == best[0])
            )
    assert got == sorted(want), (rows, got, sorted(want))


@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["append", "delete", "upsert", "compact"]),
            st.integers(0, 9),
            st.integers(0, 5),
        ),
        min_size=1,
        max_size=4,
    )
)
@settings(
    max_examples=5,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_lsh_index_lifecycle_matches_model(spark, tmp_path_factory, ops):
    """MODEL-BASED lifecycle test for the persisted LSH index —
    completes the family symmetry (MinHash / BM25 / IVF / SimHash
    already have one): random append/delete/upsert/compact sequences
    mirrored against a dict model of the live vectors; final search
    results (buckets pinned by the same seed-derived hyperplanes on
    both sides) must equal a fresh index built on the model corpus."""
    from spatially_databricks_etl_spark.operators.similarity import (
        lsh_append_index,
        lsh_compact_index,
        lsh_delete_index,
        lsh_search_index,
        lsh_upsert_index,
        lsh_write_index,
    )

    def vec(seed: int) -> list:
        return [
            round(((seed * 29 + d * 19) % 11 - 5) / 5.0, 3) for d in range(8)
        ]

    model = {i: vec(i) for i in range(5)}
    next_new = 100

    base = tmp_path_factory.mktemp("lsh_model")
    live = str(base / "live")

    def frame(items):
        return spark.createDataFrame(
            [(k, v) for k, v in items], "vec_id long, embedding array<float>"
        )

    lsh_write_index(frame(model.items()), live, planes=4, dim=8, seed=7)

    for kind, pick, tpick in ops:
        if kind == "append":
            nid = next_new
            next_new += 1
            model[nid] = vec(nid + tpick)
            lsh_append_index(frame([(nid, model[nid])]), live)
        elif kind == "delete":
            if not model:
                continue
            did = sorted(model)[pick % len(model)]
            del model[did]
            lsh_delete_index(
                spark.createDataFrame([(did,)], "vec_id long").select("vec_id"),
                live,
            )
        elif kind == "upsert":
            uid = (
                sorted(model)[pick % len(model)]
                if model and pick % 2 == 0
                else 200 + pick
            )
            model[uid] = vec(uid * 7 + tpick)
            lsh_upsert_index(frame([(uid, model[uid])]), live)
        else:
            lsh_compact_index(spark, live)

    if not model:
        return
    rebuilt = str(base / "rebuilt")
    lsh_write_index(frame(model.items()), rebuilt, planes=4, dim=8, seed=7)
    queries = spark.createDataFrame(
        [(i, vec(i + 300)) for i in range(3)],
        "query_id long, embedding array<float>",
    )
    got = sorted(
        map(tuple, lsh_search_index(queries, live, k=5).collect())
    )
    want = sorted(
        map(tuple, lsh_search_index(queries, rebuilt, k=5).collect())
    )
    assert got == want, (ops, sorted(model))


@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["append", "delete", "upsert", "compact"]),
            st.integers(0, 9),
            st.integers(0, 5),
        ),
        min_size=1,
        max_size=4,
    )
)
@settings(
    max_examples=5,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_ivfpq_index_lifecycle_matches_model(spark, tmp_path_factory, ops):
    """MODEL-BASED lifecycle test for the composed IVF-PQ index — the
    last index family without one: random append/delete/upsert/compact
    sequences mirrored against a dict model of the live vectors; final
    searches (cells and codebooks pinned identically on both sides)
    must equal a fresh index built on the model corpus."""
    from spatially_databricks_etl_spark.operators.similarity import (
        ivfpq_append_index,
        ivfpq_compact_index,
        ivfpq_delete_index,
        ivfpq_search_index,
        ivfpq_upsert_index,
        ivfpq_write_index,
    )

    def vec(seed: int) -> list:
        return [
            round(((seed * 31 + d * 17) % 13 - 6) / 6.0, 3) for d in range(8)
        ]

    cents = [vec(50), vec(51), vec(52)]
    # 2 subspaces x 4 codewords x 4 dims each — deterministic
    codebooks = [
        [[round(((c * 7 + d * 3 + s) % 9 - 4) / 4.0, 3) for d in range(4)] for c in range(4)]
        for s in range(2)
    ]
    model = {i: vec(i) for i in range(5)}
    next_new = 100

    base = tmp_path_factory.mktemp("ivfpq_model")
    live = str(base / "live")

    def frame(items):
        return spark.createDataFrame(
            [(k, v) for k, v in items], "vec_id long, embedding array<float>"
        )

    ivfpq_write_index(frame(model.items()), live, centroids=cents, codebooks=codebooks)

    for kind, pick, tpick in ops:
        if kind == "append":
            nid = next_new
            next_new += 1
            model[nid] = vec(nid + tpick)
            ivfpq_append_index(frame([(nid, model[nid])]), live)
        elif kind == "delete":
            if not model:
                continue
            did = sorted(model)[pick % len(model)]
            del model[did]
            ivfpq_delete_index(
                spark.createDataFrame([(did,)], "vec_id long").select("vec_id"),
                live,
            )
        elif kind == "upsert":
            uid = (
                sorted(model)[pick % len(model)]
                if model and pick % 2 == 0
                else 200 + pick
            )
            model[uid] = vec(uid * 7 + tpick)
            ivfpq_upsert_index(frame([(uid, model[uid])]), live)
        else:
            ivfpq_compact_index(spark, live)

    if not model:
        return
    rebuilt = str(base / "rebuilt")
    ivfpq_write_index(
        frame(model.items()), rebuilt, centroids=cents, codebooks=codebooks
    )
    queries = spark.createDataFrame(
        [(i, vec(i + 300)) for i in range(3)],
        "query_id long, embedding array<float>",
    )
    got = sorted(
        map(tuple, ivfpq_search_index(queries, live, k=5, nprobe=3).collect())
    )
    want = sorted(
        map(tuple, ivfpq_search_index(queries, rebuilt, k=5, nprobe=3).collect())
    )
    assert got == want, (ops, sorted(model))


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)),
        min_size=1,
        max_size=16,
    ),
    k=st.integers(1, 3),
    rounds=st.integers(1, 3),
)
@SETTINGS
def test_kcore_matches_python_reference(spark, edges, k, rounds):
    """kcore against a from-scratch synchronous peeling replay on
    arbitrary small graphs: symmetrize + strip self-loops, then
    ``rounds`` sweeps that simultaneously drop every node whose
    CURRENT degree is < k — the exact contract the unrolled-SQL
    oracle encodes."""
    from spatially_databricks_etl_spark.operators.curate import kcore

    sym = {(a, b) for a, b in edges if a != b}
    sym |= {(b, a) for a, b in sym}
    if not sym:
        return
    df = spark.createDataFrame(sorted(sym), "src long, dst long")
    got = {
        r["node"]: r["degree"]
        for r in kcore(df, k=k, rounds=rounds).collect()
    }

    cur = set(sym)
    for _ in range(rounds):
        deg = {}
        for a, b in cur:
            deg[a] = deg.get(a, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        cur = {(a, b) for a, b in cur if a in keep and b in keep}
    want = {}
    for a, b in cur:
        want[a] = want.get(a, 0) + 1
    assert got == want, (sorted(sym), k, rounds, got, want)


def _bits(x):
    """Exact identity of a collected double (None-safe, -0.0 ≠ 0.0)."""
    import struct

    return None if x is None else struct.pack(">d", x)


VEC_ELEM = st.one_of(
    st.none(),
    st.sampled_from([0.0, -0.0, 1.0, -2.5, 3.0e-7]),
    st.floats(width=32, allow_nan=True, allow_infinity=True),
)
VEC = st.one_of(st.none(), st.lists(VEC_ELEM, max_size=5))


@given(
    pairs=st.lists(st.tuples(VEC, VEC), min_size=1, max_size=10),
    elem=st.sampled_from(["double", "float"]),
)
@SETTINGS
def test_cosine_from_norms_bit_identical_to_per_pair_cosine(spark, pairs, elem):
    """Cosine from norms computed once per row in an earlier projection
    (as the searchers do before their join) gives the same bits as the
    per-pair form on null arrays, empty arrays, unequal lengths, null
    elements and ``array<float>`` inputs."""
    from spatially_databricks_etl_spark.functions.vectors import (
        cosine_from_norms,
        cosine_similarity,
        dot,
        l2_norm,
    )

    df = spark.createDataFrame(pairs, f"a array<{elem}>, b array<{elem}>")
    na, nb = l2_norm("a"), l2_norm("b")
    per_pair = F.when((na > 0) & (nb > 0), dot("a", "b") / (na * nb)).otherwise(
        F.lit(None).cast("double")
    )
    rows = (
        df.select("a", "b", na.alias("na"), nb.alias("nb"))
        .select(
            per_pair.alias("want"),
            cosine_similarity("a", "b").alias("cos"),
            cosine_from_norms("a", "b", "na", "nb").alias("cos_norms"),
        )
        .collect()
    )
    for p, r in zip(pairs, rows):
        assert _bits(r["cos"]) == _bits(r["want"]), (p, r)
        assert _bits(r["cos_norms"]) == _bits(r["want"]), (p, r)


# few distinct coordinates, so exact similarity ties (and duplicate or
# zero centroids) are common
COORD = st.sampled_from([0.0, -0.0, 1.0, -1.0, 0.5, 2.0, -3.0])


@given(
    data=st.data(),
    dim=st.integers(1, 4),
    n_cells=st.integers(1, 6),
)
@SETTINGS
def test_route_cells_matches_spark_probe_cells(spark, data, dim, n_cells):
    """Driver-side routing picks the same probed cells, in the same
    order, as the Spark ``_probe_cells`` expression — including forced
    exact ties (a duplicated centroid), zero centroids, and null or
    ragged query vectors."""
    from spatially_databricks_etl_spark.operators.similarity import (
        _cell_sims,
        _probe_cells,
        _scaled_centroid_lit,
        route_cells,
    )

    cents = data.draw(
        st.lists(st.lists(COORD, min_size=dim, max_size=dim), min_size=n_cells, max_size=n_cells)
    )
    cents.append(list(cents[0]))  # an exact tie with cell 0 on every query
    qvec = st.one_of(
        st.lists(st.one_of(COORD, st.floats(-4, 4)), min_size=dim, max_size=dim),
        st.none(),
        st.lists(COORD, min_size=dim + 1, max_size=dim + 1),
        st.lists(st.one_of(st.none(), COORD), min_size=dim, max_size=dim),
    )
    qvecs = data.draw(st.lists(qvec, min_size=1, max_size=6))
    nprobe = data.draw(st.integers(0, len(cents) + 1))

    qdf = spark.createDataFrame(list(enumerate(qvecs)), "query_id long, embedding array<double>")
    probes = _probe_cells(
        qdf, _cell_sims(_scaled_centroid_lit(cents)), nprobe, "query_id", "embedding"
    )
    want: dict[int, list[int]] = {i: [] for i in range(len(qvecs))}
    for r in probes.groupBy("query_id").agg(F.collect_list("__cell").alias("c")).collect():
        want[r["query_id"]] = sorted(r["c"])
    got = route_cells(qvecs, cents, nprobe)
    assert {i: sorted(c) for i, c in enumerate(got)} == want, (cents, qvecs, nprobe)


@given(data=st.data(), dim=st.integers(1, 4), planes=st.integers(1, 5))
@SETTINGS
def test_route_buckets_matches_spark_lsh_bucket(spark, data, dim, planes):
    """Driver-side LSH bucketing gives the same bucket as the Spark
    ``lsh_bucket`` expression, zero dot products (sign ties) and null
    vectors included."""
    import numpy as np

    from spatially_databricks_etl_spark.operators.similarity import (
        _route_buckets,
        lsh_bucket,
    )

    hp = np.asarray(
        data.draw(
            st.lists(st.lists(COORD, min_size=dim, max_size=dim), min_size=planes, max_size=planes)
        )
    )
    qvecs = data.draw(
        st.lists(
            st.one_of(st.none(), st.lists(COORD, min_size=dim, max_size=dim)),
            min_size=1,
            max_size=6,
        )
    )
    qdf = spark.createDataFrame(list(enumerate(qvecs)), "query_id long, embedding array<double>")
    want = [
        r["b"]
        for r in qdf.orderBy("query_id").select(lsh_bucket("embedding", hp).alias("b")).collect()
    ]
    assert _route_buckets(qvecs, hp) == want, (hp, qvecs)
