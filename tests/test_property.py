"""Property-based equivalence: the Catalyst Column implementations vs
the pure-Python oracle transliteration, over randomized inputs
(SURVEY §5 — the C-quirk arithmetic must agree everywhere, not just on
hand-picked cases)."""

from __future__ import annotations

import string

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from sagan_spark.rules.ir import ContentSpec
from tests.oracle import _content_ok, _slice

ASCII = string.ascii_lowercase + string.digits + " .:#"

msg_st = st.text(alphabet=ASCII, min_size=0, max_size=60)
lit_st = st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=6)
small = st.integers(min_value=0, max_value=40)


@pytest.fixture(scope="module")
def batch_eval(spark):
    """Evaluate content_predicate for many (msg, spec) cases in ONE Spark
    job (per-example Spark jobs would be prohibitively slow)."""
    from pyspark.sql import functions as F

    from sagan_spark.functions.textmatch import content_predicate

    def run(cases):
        # cases: list of (msg, specs) with identical spec shape per call
        rows = [(i, m) for i, (m, _) in enumerate(cases)]
        df = spark.createDataFrame(rows, "i long, msg string")
        out = {}
        # group cases by identical spec tuple to batch evaluation
        by_spec = {}
        for i, (m, specs) in enumerate(cases):
            key = tuple((c.literal, c.negated, c.nocase, c.offset, c.depth, c.distance, c.within) for c in specs)
            by_spec.setdefault(key, []).append(i)
        for key, idxs in by_spec.items():
            specs = [ContentSpec(*k) for k in key]
            sub = df.filter(F.col("i").isin(idxs))
            got = sub.select("i", content_predicate(F.col("msg"), specs).alias("ok")).collect()
            for r in got:
                out[r.i] = bool(r.ok)
        return out

    return run


@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    data=st.lists(
        st.tuples(msg_st, lit_st, small, small, small, small, st.booleans(), st.booleans()),
        min_size=1,
        max_size=12,
    )
)
def test_content_slicing_matches_oracle(batch_eval, data):
    cases = []
    for msg, lit, off, dep, dist, win, neg, nocase in data:
        spec = ContentSpec(
            lit.lower() if nocase else lit,
            negated=neg, nocase=nocase, offset=off, depth=dep,
            distance=dist, within=win,
        )
        cases.append((msg, [spec]))
    got = batch_eval(cases)
    for i, (msg, specs) in enumerate(cases):
        want = _content_ok(msg, specs)
        assert got[i] == want, (msg, specs[0])


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    msg=msg_st,
    a=st.tuples(lit_st, small, small),
    b=st.tuples(lit_st, small, small),
)
def test_two_content_chain_matches_oracle(batch_eval, msg, a, b):
    """distance/within measured from the PREVIOUS literal's depth
    (reference src/content.c:101-117) — the chained case."""
    specs = [
        ContentSpec(a[0], offset=a[1], depth=a[2]),
        ContentSpec(b[0], distance=b[1], within=b[2]),
    ]
    got = batch_eval([(msg, specs)])
    assert got[0] == _content_ok(msg, specs)


def test_parse_ip_fast_v4_equals_ipaddress():
    """_v4_int must accept exactly what ipaddress.IPv4Address accepts."""
    import ipaddress

    from sagan_spark.functions.extract import _v4_int

    cases = [
        "1.2.3.4", "0.0.0.0", "255.255.255.255", "256.1.1.1", "1.2.3",
        "1.2.3.4.5", "01.2.3.4", "1.02.3.4", "a.b.c.d", "1..2.3", "",
        "10.0.0.0", "192.168.001.1", "12.34.56.789", "1.2.3.04",
    ]
    for tok in cases:
        try:
            want = int(ipaddress.IPv4Address(tok))
        except Exception:
            want = None
        assert _v4_int(tok) == want, tok


@given(
    st.text(
        alphabet=st.characters(
            whitelist_categories=("Nd", "Po", "Ll"),
            whitelist_characters=".0123456789²³٢",
        ),
        max_size=18,
    )
)
@settings(max_examples=300, deadline=None)
def test_v4_int_equals_ipaddress_on_arbitrary_tokens(tok):
    """Property form of the accept-set claim, covering the Unicode-digit
    class that crashed the round-1 implementation (str.isdigit() is True
    for '²'/'٢' but int() rejects or mis-parses them)."""
    import ipaddress

    from sagan_spark.functions.extract import _v4_int

    try:
        want = int(ipaddress.IPv4Address(tok))
    except Exception:
        want = None
    assert _v4_int(tok) == want, repr(tok)


# ---------------------------------------------------------------------------
# correlation kernels vs the oracle's transliteration of the reference
# state machines (Spark-free: the kernels are plain Python)
# ---------------------------------------------------------------------------

_CORR_KINDS = ["after", "limit", "suppress", "after+limit", "after+suppress"]
_TRACKS = [["by_src"], ["by_dst"], ["by_src", "by_dst"]]
_IPS = ["10.0.0.1", "10.0.0.2", "10.0.0.3"]


def _ext(src: str, dst: str) -> dict:
    return {"src_ip": src, "dst_ip": dst, "username": "", "src_port": 0, "dst_port": 0}


@settings(max_examples=300, deadline=None)
@given(
    kind=st.sampled_from(_CORR_KINDS),
    a_track=st.sampled_from(_TRACKS),
    t_track=st.sampled_from(_TRACKS),
    a_count=st.integers(0, 4),
    a_secs=st.integers(0, 30),
    t_count=st.integers(0, 4),
    t_secs=st.integers(0, 30),
    events=st.lists(
        st.tuples(st.integers(0, 15), st.sampled_from(_IPS), st.sampled_from(_IPS)),
        min_size=1,
        max_size=40,
    ),
)
def test_corr_kernel_matches_oracle(
    kind, a_track, t_track, a_count, a_secs, t_count, t_secs, events
):
    """advance_corr_machines == Oracle._after/_threshold over random
    (ts, track) sequences, including the after gate on threshold
    updates (engine.c:1377-1389) and the final per-key state."""
    from sagan_spark.pipeline.correlate import _corr_spec_map, advance_corr_machines
    from sagan_spark.rules.ir import AfterSpec, RuleIR, ThresholdSpec
    from tests.oracle import Oracle

    rule = RuleIR(
        sid=7,
        after=AfterSpec(a_track, a_count, a_secs) if "after" in kind else None,
        threshold=(
            ThresholdSpec(kind.rsplit("+", 1)[-1], t_track, t_count, t_secs)
            if kind != "after"
            else None
        ),
    )
    spec = _corr_spec_map([rule])[rule.sid]
    oracle = Oracle([rule])
    a_state: dict = {}
    t_state: dict = {}
    t = 1_700_000_000
    for gap, src, dst in events:
        t += gap
        ext = _ext(src, dst)
        want_a = oracle._after(rule, ext, t) if rule.after else False
        want_t = (
            oracle._threshold(rule, ext, t) if rule.threshold and not want_a else False
        )
        a_key = (rule.sid, Oracle._track_key(a_track, ext))
        t_key = (rule.sid, Oracle._track_key(t_track, ext))
        got = advance_corr_machines(spec, a_state, t_state, t, a_key, t_key)
        assert got == (want_a, want_t), (t, src, dst)
    assert a_state == oracle.after_state
    assert t_state == oracle.thr_state


@settings(max_examples=300, deadline=None)
@given(
    track=st.sampled_from(["ip_src", "ip_dst", "ip_pair"]),
    events=st.lists(
        st.tuples(
            st.sampled_from([0.0, 0.5, 1.0, 3.0, 10.0]),
            st.sampled_from(["set", "unset", "isset", "isnotset"]),
            st.sampled_from(["b1", "b2"]),
            st.sampled_from([0, 1, 3, 10]),
            st.sampled_from(_IPS),
            st.sampled_from(_IPS),
        ),
        min_size=1,
        max_size=40,
    ),
)
def test_bit_store_step_matches_oracle(track, events):
    """bit_store_step set/unset/check == Oracle._xbit_set/_xbit_condition,
    honoring expiry (xbit-mmap.c:181-264; expire 0 = permanent)."""
    from sagan_spark.pipeline.correlate import bit_store_step
    from sagan_spark.rules.ir import RuleIR, XbitSpec
    from tests.oracle import Oracle

    oracle = Oracle([])
    state: dict = {}
    t = 1_700_000_000.0
    for gap, action, name, expire, src, dst in events:
        t += gap
        ext = _ext(src, dst)
        rule = RuleIR(sid=1, xbits=[XbitSpec(action, name, track, expire)])
        key = oracle._xbit_key(track, ext)
        tup = (src, dst, "")
        if action in ("set", "unset"):
            oracle._xbit_set(rule, ext, t)
            assert bit_store_step(state, {}, action, name, key, t, expire, "", tup) is None
        else:
            active = bit_store_step(state, {}, "check", name, key, t, 0, "", tup)
            assert (active == (action == "isset")) == oracle._xbit_condition(rule, ext, t)
    assert state == oracle.xbit_state
