"""Property-based semantic checks: random event sets, Spark operator
vs a brute-force python model of the reference semantics. Catches the
class of bug the fixed oracle fixtures can miss (boundary ties, empty
keys, single-event sessions, duplicate timestamps)."""

from __future__ import annotations

import datetime

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

BASE = datetime.datetime(2024, 1, 1)

events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # user
        st.integers(min_value=0, max_value=600),  # ts offset seconds
        st.sampled_from(["a", "b"]),  # type
    ),
    min_size=1,
    max_size=40,
)


def _df(spark, evs):
    rows = [
        (i, BASE + datetime.timedelta(seconds=off), u, t, float(i))
        for i, (u, off, t) in enumerate(evs)
    ]
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(evs=events_strategy)
def test_session_window_matches_bruteforce(spark, evs):
    """session(gap=60s, user): events merge while the gap to the
    previous event is < 60 s; session_end = last + gap."""
    from siddhi_operator_spark.operators.windows import session

    out = session(
        _df(spark, evs),
        "ts",
        "60 seconds",
        keys=["user_id"],
        aggs=[F.count(F.lit(1)).alias("n")],
    )
    got = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n"])
        for r in out.collect()
    )
    # brute force
    per_user: dict[int, list[datetime.datetime]] = {}
    for u, off, _t in evs:
        per_user.setdefault(u, []).append(BASE + datetime.timedelta(seconds=off))
    want = []
    for u, tss in per_user.items():
        tss.sort()
        start, last, n = tss[0], tss[0], 1
        for t in tss[1:]:
            # merge at EXACTLY the gap too: Siddhi's session accepts an
            # event landing on sessionEnd, and Spark's session_window
            # merges boundary-touching sessions — verified by this test
            if (t - last).total_seconds() <= 60:
                last, n = t, n + 1
            else:
                want.append((u, start, last + datetime.timedelta(seconds=60), n))
                start, last, n = t, t, 1
        want.append((u, start, last + datetime.timedelta(seconds=60), n))
    assert got == sorted(want)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(evs=events_strategy)
def test_followed_by_matches_bruteforce(spark, evs):
    """`every e1=S[a] -> e2=S[b] within 120s`, first match per e1:
    the earliest b strictly after a (ties: lowest id) within budget —
    for BOTH impls (the r12 opt-in scan tier must agree with the join
    on every generated event set, including simultaneous-timestamp
    edges where strictness is carried by the scan's tie-ordering)."""
    from siddhi_operator_spark.operators.patterns import followed_by

    rows = [
        (i, BASE + datetime.timedelta(seconds=off), u, t)
        for i, (u, off, t) in enumerate(evs)
    ]
    want = []
    for i1, t1, u1, ty1 in rows:
        if ty1 != "a":
            continue
        cands = [
            (t2, i2)
            for i2, t2, u2, ty2 in rows
            if ty2 == "b"
            and u2 == u1
            and t2 > t1
            and (t2 - t1).total_seconds() <= 120
        ]
        if cands:
            want.append((i1, min(cands)[1]))
    for impl in ("join", "scan"):
        out = followed_by(
            _df(spark, evs),
            key="user_id",
            ts="ts",
            first_pred=F.col("event_type") == "a",
            second_pred=F.col("event_type") == "b",
            within_seconds=120,
            impl=impl,
        )
        got = sorted((r["e1_id"], r["e2_id"]) for r in out.collect())
        assert got == sorted(want), impl


chain_events_strategy = st.lists(
    st.tuples(
        st.sampled_from([None, 0, 1]),  # user: a NULL key is its own key
        st.integers(min_value=0, max_value=8).map(lambda x: 10 * x),  # ties
        st.sampled_from(["a", "b", "c"]),  # type
    ),
    min_size=1,
    max_size=30,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(evs=chain_events_strategy)
def test_ql_chains_match_bruteforce(spark, evs):
    """The QL chain kernels (`operators/patterns.py::_lead_chain` and
    `_step_join`) against a python model: a sequence is n consecutive
    events of one key in (ts, id) order, every one present; a
    followed-by step takes the earliest later event of the key within
    the budget (strictly later ts; ties: lowest id).  A NULL key is its
    own key; a step with no predicate matches any event."""
    from siddhi_operator_spark.siddhiql import run_app

    rows = [
        (i, BASE + datetime.timedelta(seconds=off), u, t)
        for i, (u, off, t) in enumerate(evs)
    ]
    per_key: dict = {}
    for r in sorted(rows, key=lambda r: (r[1], r[0])):
        per_key.setdefault(r[2], []).append(r)
    budget = datetime.timedelta(seconds=60)

    def sequences(preds, within=None):
        out = []
        for evk in per_key.values():
            for i in range(len(evk) - len(preds) + 1):
                run = evk[i : i + len(preds)]
                if all(p is None or r[3] == p for p, r in zip(preds, run)) and (
                    within is None or run[-1][1] <= run[0][1] + within
                ):
                    out.append(tuple(r[0] for r in run))
        return sorted(out)

    followed = []
    for i1, t1, u1, ty1 in rows:
        cands = [
            (t2, i2)
            for i2, t2, u2, ty2 in rows
            if ty1 == "a" and ty2 != "c" and u2 == u1 and t1 < t2 <= t1 + budget
        ]
        if cands:
            followed.append((i1, min(cands)[1]))
    apps = {
        "every e1=S[event_type == 'a'], e2=S": sequences(["a", None]),
        "every e1=S[event_type == 'a'], e2=S[event_type == 'b'],"
        " e3=S within 60 sec": sequences(["a", "b", None], budget),
        "every e1=S[event_type == 'a'] -> e2=S[event_type != 'c']"
        " within 60 sec": sorted(followed),
    }
    df = _df(spark, evs)
    for pattern, want in apps.items():
        n = pattern.count("=S")
        sel = ", ".join(f"e{k}.event_id as id{k}" for k in range(1, n + 1))
        app = f"""
        define stream S (event_id long, ts string, user_id long,
                         event_type string, value double);
        from {pattern}
        select {sel}
        insert into Out;
        """
        out = run_app(app, {"S": df}, pattern_key="user_id")["Out"]
        assert sorted(map(tuple, out.collect())) == want, pattern


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(evs=events_strategy)
def test_sliding_time_count_matches_bruteforce(spark, evs):
    """time(90s) sliding window: each event sees the count of same-key
    events in [ts - 90s, ts] — including simultaneous ones."""
    from siddhi_operator_spark.operators.windows import sliding_time

    out = sliding_time(
        _df(spark, evs),
        "ts",
        90,
        keys=["user_id"],
        aggs={"n": F.count(F.lit(1))},
    )
    got = sorted((r["event_id"], r["n"]) for r in out.collect())
    rows = [
        (i, BASE + datetime.timedelta(seconds=off), u)
        for i, (u, off, _t) in enumerate(evs)
    ]
    want = []
    for i1, t1, u1 in rows:
        n = sum(
            1
            for _i2, t2, u2 in rows
            if u2 == u1 and t1 - datetime.timedelta(seconds=90) <= t2 <= t1
        )
        want.append((i1, n))
    assert got == sorted(want)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(evs=events_strategy)
def test_unique_deduplicate_matches_bruteforce(spark, evs):
    """unique:deduplicate(user, 60s): drop an event when the previous
    ARRIVAL with the same key is ≤ 60 s older (strictly-greater gap
    emits); every arrival refreshes the guard, emitted or not."""
    from siddhi_operator_spark.operators.windows import unique_deduplicate

    out = unique_deduplicate(
        _df(spark, evs), "ts", ["user_id"], 60, tiebreak="event_id"
    )
    got = sorted(r["event_id"] for r in out.collect())
    rows = sorted(
        (u, BASE + datetime.timedelta(seconds=off), i)
        for i, (u, off, _t) in enumerate(evs)
    )
    want = []
    last_arrival: dict[int, datetime.datetime] = {}
    for u, t, i in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        prev = last_arrival.get(u)
        if prev is None or (t - prev).total_seconds() > 60:
            want.append(i)
        last_arrival[u] = t  # unconditional refresh
    assert got == sorted(want)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(evs=events_strategy)
def test_ratelimit_first_last_match_bruteforce(spark, evs):
    """output first/last every 2 min (per event_type): the bucket edge
    belongs to the NEXT bucket (window() is [start, end))."""
    from siddhi_operator_spark.operators.ratelimit import first_every, last_every

    df = _df(spark, evs)
    got_first = sorted(
        r["event_id"]
        for r in first_every(df, "ts", "2 minutes", ["event_type"], "event_id").collect()
    )
    got_last = sorted(
        r["event_id"]
        for r in last_every(df, "ts", "2 minutes", ["event_type"], "event_id").collect()
    )
    buckets: dict[tuple[str, int], list[tuple[datetime.datetime, int]]] = {}
    for i, (u, off, t) in enumerate(evs):
        ts = BASE + datetime.timedelta(seconds=off)
        b = off // 120
        buckets.setdefault((t, b), []).append((ts, i))
    want_first = sorted(min(v)[1] for v in buckets.values())
    want_last = sorted(max(v)[1] for v in buckets.values())
    assert got_first == want_first
    assert got_last == want_last


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(evs=events_strategy)
def test_incremental_cascade_matches_bruteforce(spark, evs):
    """hour→day cascade: the day table is derived from the hour table's
    composable state (sum/cnt/sum_sq/min/max), never from raw events —
    its finalized avg/stddev must still equal a direct computation."""
    import math

    from siddhi_operator_spark.operators import incremental as I

    df = _df(spark, evs).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 37 MINUTES") * (F.col("event_id") % 50)
    )
    casc = I.rollup_cascade(
        df, "ts", "value", keys=("user_id",), granularities=("hour", "day")
    )
    day = I.query_within_per(
        casc, "day", "2024-01-01 00:00:00", "2024-02-01 00:00:00"
    )
    got = {
        (r["bucket_start"], r["user_id"]): (
            r["cnt"],
            round(r["sum_v"], 6),
            round(r["avg_v"], 6),
            round(r["stddev_v"], 6),
        )
        for r in day.collect()
    }
    # brute force directly from the raw rows
    raw = [
        (
            (BASE + datetime.timedelta(seconds=off)
             + datetime.timedelta(minutes=37) * (i % 50)),
            u,
            float(i),
        )
        for i, (u, off, _t) in enumerate(evs)
    ]
    groups: dict[tuple, list[float]] = {}
    for t, u, v in raw:
        b = t.replace(hour=0, minute=0, second=0, microsecond=0)
        groups.setdefault((b, u), []).append(v)
    assert set(got) == set(groups)
    for k, vals in groups.items():
        n = len(vals)
        mean = sum(vals) / n
        var = sum((v - mean) ** 2 for v in vals) / n
        cnt, sum_v, avg_v, std_v = got[k]
        assert cnt == n
        assert abs(sum_v - sum(vals)) < 1e-6
        assert abs(avg_v - mean) < 1e-6
        assert abs(std_v - math.sqrt(var)) < 1e-6


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    grams=st.lists(
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",)),
            min_size=0,
            max_size=12,
        ),
        min_size=1,
        max_size=40,
    ),
    probes=st.lists(
        st.text(min_size=0, max_size=12), min_size=1, max_size=20
    ),
)
def test_bloom_filter_no_false_negatives(spark, grams, probes):
    """Bloom contract over arbitrary unicode grams, both hash tiers:
    every member probes positive (zero false negatives); non-members
    MAY false-positive but the python bit-model agrees exactly with
    the Spark answer either way."""
    from siddhi_operator_spark.pipeline import curation as C

    member_set = set(grams)
    gdf = spark.createDataFrame([(g,) for g in member_set], "gram string")
    pdf = spark.createDataFrame(
        [(i, p) for i, p in enumerate(set(probes) | member_set)],
        "doc_id long, gram string",
    )
    for hash_fn in ("xxhash64", "md5"):
        bloom = C.bloom_build(gdf, "gram", k=3, hash_fn=hash_fn)
        hits = {
            r.gram
            for r in C.bloom_probe(
                pdf, bloom, "gram", keys=("doc_id",), k=3, hash_fn=hash_fn
            ).collect()
        }
        assert member_set <= hits, f"{hash_fn}: false negative"


# ---- r15 text-op cross-checks: random tiny corpora vs pure-Python
# models of the exact semantics (separator-encoded BPE replace chain,
# top-V vocab tie-breaks, md5 bucket hashing). Catches the class of
# bug the fixed corpus can miss: empty docs, single-word docs,
# same-pair runs, vocab ties, all-OOV docs.

word_strategy = st.text(alphabet="ab", min_size=1, max_size=4)
docs_strategy = st.lists(
    st.lists(word_strategy, min_size=0, max_size=8).map(" ".join),
    min_size=1,
    max_size=10,
)


def _docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def _words(text):
    import re

    return [w for w in re.split(r"[^a-z]+", text.lower()) if w]


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=docs_strategy)
def test_bpe_encode_count_matches_bruteforce(spark, texts):
    """bpe_encode_count == the same separator replace chain run in
    Python (str.replace is the same non-overlapping left-to-right
    scan as Spark's replace)."""
    from siddhi_operator_spark.pipeline.text import bpe_encode_count

    merges = [("a", "b"), ("b", "a"), ("ab", "a")]

    def model(text):
        toks = "|" + "".join(ch + "|" for ch in " ".join(_words(text)))
        if toks == "|":
            return 0
        for a, b in merges:
            for _ in range(3):
                toks = toks.replace(f"|{a}|{b}|", f"|{a}{b}|")
        return sum(1 for seg in toks.split("|") if seg.isalpha())

    got = {
        r.doc_id: r.n_bpe_tokens
        for r in bpe_encode_count(_docs_df(spark, texts), merges).collect()
    }
    want = {i: model(t) for i, t in enumerate(texts)}
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=docs_strategy)
def test_word_lm_score_matches_bruteforce(spark, texts):
    """word_lm_score == a pure-Python add-1 bigram model with the
    same top-V (count desc, word asc) vocab tie-break."""
    import math
    from collections import Counter

    from siddhi_operator_spark.pipeline.text import word_lm_score

    V = 2
    uni = Counter(w for t in texts for w in _words(t))
    vocab = set(w for w, _ in sorted(uni.items(), key=lambda kv: (-kv[1], kv[0]))[:V])
    mapped = {
        i: [(w if w in vocab else "<unk>") for w in _words(t)]
        for i, t in enumerate(texts)
    }
    model = Counter()
    for ws in mapped.values():
        for a, b in zip(ws, ws[1:]):
            model[(a, b)] += 1
    ctx = Counter()
    for (a, _), c in model.items():
        ctx[a] += c
    veff = len(vocab) + 1
    want = {}
    for i, ws in mapped.items():
        bgs = list(zip(ws, ws[1:]))
        if not bgs:
            continue
        nll = [
            -math.log2((model[bg] + 1.0) / (ctx[bg[0]] + veff)) for bg in bgs
        ]
        want[i] = (len(bgs), sum(nll) / len(bgs))
    got = {
        r.doc_id: (r.n_bigrams, r.avg_neg_log2p)
        for r in word_lm_score(_docs_df(spark, texts), vocab_size=V).collect()
    }
    assert set(got) == set(want)
    for i in want:
        assert got[i][0] == want[i][0]
        assert abs(got[i][1] - want[i][1]) <= 1e-4 + 1e-9


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=docs_strategy, flags=st.lists(st.booleans(), min_size=10, max_size=10))
def test_dsir_logweight_matches_bruteforce(spark, texts, flags):
    """dsir_logweight == a pure-Python 256-bucket hashed uni+bigram
    importance model (md5 hex-prefix buckets, add-0.5 smoothing)."""
    import hashlib
    import math
    from collections import Counter

    from siddhi_operator_spark.pipeline.text import dsir_logweight

    tflags = {i: flags[i] for i in range(len(texts))}
    if not any(tflags[i] for i in range(len(texts))):
        tflags[0] = True  # ensure a non-empty target pool

    def buckets(t):
        ws = _words(t)
        h = lambda s: hashlib.md5(s.encode()).hexdigest()[:2]
        return [h(w) for w in ws] + [
            h(f"{a} {b}") for a, b in zip(ws, ws[1:])
        ]

    raw, tgt = Counter(), Counter()
    for i, t in enumerate(texts):
        bs = buckets(t)
        raw.update(bs)
        if tflags[i]:
            tgt.update(bs)
    R, T = float(sum(raw.values())), float(sum(tgt.values()))
    want = {}
    for i, t in enumerate(texts):
        bs = buckets(t)
        if not bs:
            continue
        lw = sum(
            math.log2((tgt[b] + 0.5) / (T + 128.0))
            - math.log2((raw[b] + 0.5) / (R + 128.0))
            for b in bs
        )
        want[i] = (len(bs), lw)
    df = _docs_df(spark, texts).withColumn(
        "src",
        F.col("doc_id").isin([i for i, v in tflags.items() if v]),
    )
    got = {
        r.doc_id: (r.n_feats, r.dsir_logweight)
        for r in dsir_logweight(df, target_pred=F.col("src")).collect()
    }
    assert set(got) == set(want)
    for i in want:
        assert got[i][0] == want[i][0]
        assert abs(got[i][1] - want[i][1]) <= 1e-4 + 1e-9


sourced_docs_strategy = st.lists(
    st.tuples(
        st.lists(word_strategy, min_size=0, max_size=8).map(" ".join),
        st.sampled_from(["s0", "s1", "s2"]),
    ),
    min_size=1,
    max_size=12,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=sourced_docs_strategy)
def test_shard_assign_matches_bruteforce(spark, docs):
    """Two-level global shard numbering == the Python cumsum over the
    canonical (source, doc_id) order, for any corpus shape (empty
    docs, single-source, unbalanced sources)."""
    from siddhi_operator_spark.pipeline.curation import shard_assign

    df = spark.createDataFrame(
        [(i, t, s) for i, (t, s) in enumerate(docs)],
        "doc_id long, text string, source string",
    )
    budget = 7
    got = {
        r.doc_id: (r.n_tokens, r.shard_id)
        for r in shard_assign(df, budget=budget).collect()
    }
    cum = 0
    want = {}
    for i, (t, s) in sorted(enumerate(docs), key=lambda p: (p[1][1], p[0])):
        n = len([w for w in t.split() if w])
        want[i] = (n, cum // budget)
        cum += n
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=docs_strategy, perm_seed=st.integers(0, 2**16))
def test_token_set_canon_invariants(spark, texts, perm_seed):
    """Canon hash is invariant under word shuffling, duplication, and
    case-flipping; two docs share a hash iff their normalized token
    SETS are equal (bruteforce set comparison)."""
    import random

    from siddhi_operator_spark.pipeline.curation import token_set_dedup

    rng = random.Random(perm_seed)
    variants = []
    for t in texts:
        ws = t.split()
        rng.shuffle(ws)
        dup = ws + ([rng.choice(ws)] if ws else [])
        variants.append(" ".join(w.upper() if rng.random() < 0.5 else w for w in dup))
    both = texts + variants
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(both)], "doc_id long, text string"
    )
    got = {r.doc_id: r.canon_hash for r in token_set_dedup(df).collect()}
    n = len(texts)
    for i in range(n):
        assert got[i] == got[n + i], f"variant {i} broke canon invariance"
    sets = {i: frozenset(t.lower().split()) for i, t in enumerate(both)}
    for i in sets:
        for j in sets:
            assert (got[i] == got[j]) == (sets[i] == sets[j]), (i, j)
