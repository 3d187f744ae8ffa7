"""Stateful correlation: after / threshold / xbits — batch (event-time) form.

The reference keeps per-(rule, track-key) counters in mmap'd shared
arrays updated in arrival order (reference src/threshold.c:54-234,
src/after.c:51-229, src/xbit-mmap.c).  Here the same state machines run
distributed: hits shuffle ONCE on a colocation key (sid, track-key),
each shuffle partition is sorted in canonical event-time order
``(ts, event_key)``, and a single ``mapInPandas`` pass replays every
key's subsequence with a per-key state dict carried across Arrow
batches.  Canonical ordering makes the result deterministic under any
partitioning/parallelism (SURVEY §7.5).

Why mapInPandas and not groupBy().applyInPandas: the track key is
usually a source IP, so a corpus has ~as many groups as distinct IPs.
applyInPandas materializes one pandas DataFrame per group — per-group
constant costs dominate when groups are tiny (millions of 3-row
groups).  One sorted pass per shuffle partition does the same replay
with zero per-group overhead, and it is exactly how the reference
consumes its arrival-ordered stream.

Exact semantics replicated:

- threshold type **limit**: window anchored at FIRST event (utime never
  slides, threshold.c:132-135); count resets when an event arrives more
  than T seconds after the anchor (threshold.c:141-146); suppress once
  count exceeds N (threshold.c:148-150).
- threshold type **suppress**: utime slides on EVERY event
  (threshold.c:126-130) so suppression persists while the inter-event
  gap stays <= T.
- **after**: suppress UNTIL count exceeds N within T of the anchor;
  once exceeded, the anchor slides with each alerting event
  (after.c:125-144).  Evaluated BEFORE threshold; a suppressed-by-after
  event never updates threshold state (engine.c:1377-1389).
- **xbits**: set/unset happen only for events that survived
  after+threshold (engine.c:1415-1427); isset/isnotset conditions are
  part of routing (checked before after/threshold) honoring expiry
  (xbit-mmap.c:181-264).  Within one event, rules are replayed in
  ruleset position order and a rule's condition check precedes its own
  set (engine.c:999-1024 vs 1415-1427).

Scale note: the shuffle parallelizes across (sid, track-key); rules
carrying BOTH after and threshold colocate per sid (the two state
machines share the event subsequence, engine.c:1377-1389) — the same
serialization the reference imposes via its shared arrays.  Hot keys
cost one partition's sort, not a driver loop.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sagan_spark.rules.ir import RuleIR

FLAG_FIELDS = ["suppressed_after", "suppressed_threshold"]


def ts_seconds_d(col: F.Column) -> F.Column:
    """Event-time as epoch seconds (double), NTZ-safe: Spark 4 ANSI
    rejects CAST(TIMESTAMP_NTZ AS DOUBLE); NTZ -> TIMESTAMP first (the
    session runs UTC, so the instant is unambiguous)."""
    return F.unix_micros(col.cast("timestamp")).cast("double") / F.lit(1_000_000.0)


def ts_seconds_l(col: F.Column) -> F.Column:
    """Event-time as epoch seconds (long, floor), NTZ-safe."""
    return F.unix_timestamp(col.cast("timestamp"))


def _corr_spec_map(rules: list[RuleIR]) -> dict[int, dict]:
    out: dict[int, dict] = {}
    for r in rules:
        if r.after or r.threshold:
            out[r.sid] = {
                "after": (r.after.count, r.after.seconds) if r.after else None,
                "threshold": (
                    r.threshold.ttype,
                    r.threshold.count,
                    r.threshold.seconds,
                )
                if r.threshold
                else None,
                "after_track": tuple(r.after.track) if r.after else None,
                "thr_track": tuple(r.threshold.track) if r.threshold else None,
            }
    return out


def _shuffle_partitions(df: DataFrame) -> int:
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))


def advance_corr_machines(
    spec: dict, a_state: dict, t_state: dict, t: int, a_key, t_key
) -> tuple[bool, bool]:
    """Advance the after/threshold state machines for ONE event at
    epoch-second ``t`` and return (suppressed_after,
    suppressed_threshold) — the exact reference semantics
    (after.c:51-229, threshold.c:54-234; after gates threshold updates,
    engine.c:1377-1389).

    ``a_key``/``t_key`` are the state keys the caller owns: the batch
    replay and the chain walks key by ``(sid, track)`` like the
    reference's (hash, sid) slots (after.c:108-110, threshold.c:111-113);
    the streaming replays hold one rule's state per group and key by the
    track string alone.  The only after/threshold transition in the
    package: batch, chain walk and both streaming replays call it."""
    suppressed = False
    sup_thr = False
    after_spec = spec["after"]
    if after_spec is not None:
        a_count, a_secs = after_spec
        st = a_state.get(a_key)
        if st is None:
            a_state[a_key] = [1, t]
            suppressed = True  # after.c:78 default true until count > N
        else:
            st[0] += 1
            oldtime = t - st[1]
            flag = True
            if oldtime > a_secs:  # gap reset (after.c:132-137)
                st[0], st[1] = 1, t
                flag = True
            if a_count < st[0]:  # exceeded: alert + slide (after.c:140-144)
                st[1] = t
                flag = False
            suppressed = flag

    thr_spec = spec["threshold"]
    if thr_spec is not None and not suppressed:  # engine.c:1386 gate
        ttype, t_count, t_secs = thr_spec
        st = t_state.get(t_key)
        if st is None:
            t_state[t_key] = [1, t]
        else:
            st[0] += 1
            oldtime = t - st[1]
            if ttype == "suppress":  # utime slides (threshold.c:126-130)
                st[1] = t
            if oldtime > t_secs:  # window reset (threshold.c:141-146)
                st[0], st[1] = 1, t
            if t_count < st[0]:  # (threshold.c:148-150)
                sup_thr = True
    return suppressed, sup_thr


def max_corr_secs(specs: dict[int, dict]) -> int:
    """Longest after/threshold window across ``specs`` (0 when empty):
    a key silent longer than this gap-resets on its next event
    (after.c:132-137, threshold.c:141-146), so its counters are
    indistinguishable from fresh state and may be evicted."""
    return max(
        (
            max(
                v["after"][1] if v["after"] else 0,
                v["threshold"][2] if v["threshold"] else 0,
            )
            for v in specs.values()
        ),
        default=0,
    )


def corr_group_key(specs: dict[int, dict]) -> F.Column:
    """Colocation key for the after/threshold shuffle: one shuffle key
    per (sid, track-key) when one machine is active.  A rule carrying
    BOTH after and threshold couples the two machines (the after gate
    mutes threshold updates, engine.c:1377-1389) — but when the two
    specs share the SAME track key (the common case) the coupled pair
    still partitions cleanly per key, because the reference serializes
    only per (hash, sid) slot and both machines hash the identical key
    string (threshold.c:111, after.c:108).  Only a mixed-track
    both-rule needs the per-sid funnel."""
    both_sids = [s for s, v in specs.items() if v["after"] and v["threshold"]]
    both_mixed = [
        s for s in both_sids if specs[s]["after_track"] != specs[s]["thr_track"]
    ]
    after_only = [s for s, v in specs.items() if v["after"] and not v["threshold"]]
    return (
        F.when(F.col("sid").isin(both_mixed), F.lit(""))
        .when(
            F.col("sid").isin(after_only) | F.col("sid").isin(both_sids),
            F.col("track_after"),
        )
        .otherwise(F.col("track_threshold"))
    )


def apply_after_threshold(
    hits: DataFrame,
    rules: list[RuleIR],
    exclude_sids: list[int] | None = None,
    materialize_suppressed: bool = False,
    isolate_hot: bool = False,
) -> DataFrame:
    """Add suppressed_after / suppressed_threshold booleans to the hits DF.

    hits must carry: sid, event_key, ts (timestamp), track_after,
    track_threshold.

    Physical shape (the narrow-boundary pattern): only the 5 columns the
    state machine reads cross the shuffle and the Arrow boundary; the
    replay emits ONLY suppressed (event_key, sid) pairs — typically a
    small fraction — which join back onto the full hit rows (AQE
    broadcasts the suppressed side when small).  The wide hit columns
    never enter Python.  NOTE: `hits` is consumed twice (narrow branch +
    join left side) — the caller persists it.

    ``exclude_sids``: rules whose state must NOT be updated here (xbit
    condition rules — their after/threshold runs after the condition
    gate, reference engine.c:999-1024 vs 1373-1389); their rows pass
    through with false flags.
    """
    specs = _corr_spec_map(rules)
    for s in exclude_sids or []:
        specs.pop(s, None)
    if not specs:
        return hits.withColumn("suppressed_after", F.lit(False)).withColumn(
            "suppressed_threshold", F.lit(False)
        )

    corr_sids = list(specs)

    # colocation key — see corr_group_key: per (sid, track-key) normally,
    # per-sid funnel only for mixed-track both-rules (without this one
    # hot both-rule made the whole correlation stage single-threaded)
    group_key = corr_group_key(specs)

    narrow = (
        hits.filter(F.col("sid").isin(corr_sids))
        .select(
            "sid",
            "event_key",
            "ts",
            "track_after",
            "track_threshold",
            group_key.alias("corr_group"),
            ts_seconds_l(F.col("ts")).alias("ts_epoch"),
        )
    )

    out_struct = T.StructType(
        [
            T.StructField("event_key", T.StringType()),
            T.StructField("sid", T.LongType()),
            T.StructField("suppressed_after", T.BooleanType()),
            T.StructField("suppressed_threshold", T.BooleanType()),
        ]
    )

    def replay(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # state survives across Arrow batches of one shuffle partition;
        # keys are dicts keyed (sid, track-key) like the reference's
        # (hash, sid) slots (threshold.c:111-113, after.c:108-110)
        a_state: dict = {}
        t_state: dict = {}
        for pdf in batches:
            n = len(pdf)
            sids = pdf["sid"].to_numpy()
            ts = pdf["ts_epoch"].to_numpy()
            keys = pdf["event_key"].to_numpy()
            a_keys = pdf["track_after"].to_numpy()
            t_keys = pdf["track_threshold"].to_numpy()
            out_key: list = []
            out_sid: list = []
            out_a: list = []
            out_t: list = []
            for i in range(n):
                sid = sids[i]
                spec = specs.get(sid)
                if spec is None:
                    continue
                suppressed, sup_thr = advance_corr_machines(
                    spec, a_state, t_state, int(ts[i]), (sid, a_keys[i]), (sid, t_keys[i])
                )
                if suppressed or sup_thr:
                    out_key.append(keys[i])
                    out_sid.append(sid)
                    out_a.append(suppressed)
                    out_t.append(sup_thr)

            yield pd.DataFrame(
                {
                    "event_key": out_key,
                    "sid": pd.array(out_sid, dtype="int64"),
                    "suppressed_after": pd.array(out_a, dtype="boolean"),
                    "suppressed_threshold": pd.array(out_t, dtype="boolean"),
                }
            )

    n_parts = _shuffle_partitions(narrow)
    if isolate_hot:
        # north_rule skew handling: a hot (sid, track-key) cannot be
        # split (ordered replay) — give it a dedicated shuffle slot so
        # it only slows itself (pipeline/skew.py)
        from sagan_spark.pipeline.skew import detect_hot_keys, isolate_hot_keys

        hot = detect_hot_keys(narrow, ["sid", "corr_group"], hot_share=1.5 / n_parts)
        shuffled = isolate_hot_keys(narrow, ["sid", "corr_group"], n_parts, hot)
    else:
        shuffled = narrow.repartition(n_parts, "sid", "corr_group")
    suppressed = (
        shuffled
        .sortWithinPartitions("ts", "event_key")
        .mapInPandas(replay, schema=out_struct)
    )
    if materialize_suppressed:
        # the result fans out downstream (xbit branches): pin the tiny
        # suppressed set so each branch's join reuses it instead of
        # re-running the replay shuffle
        suppressed = suppressed.persist()
        suppressed.count()

    joined = hits.join(suppressed, ["event_key", "sid"], "left")
    return joined.withColumn(
        "suppressed_after", F.coalesce(F.col("suppressed_after"), F.lit(False))
    ).withColumn(
        "suppressed_threshold", F.coalesce(F.col("suppressed_threshold"), F.lit(False))
    )


# ---------------------------------------------------------------------------
# xbits / flexbits (A4-A6): batch event-time replay per (bit name, key)
# ---------------------------------------------------------------------------


def xbit_key_expr(track: str) -> F.Column:
    """xbit_direction key (reference src/xbit.c:76-105):
    ip_src -> src, ip_dst -> dst, ip_pair -> 'src:dst'."""
    if track == "ip_src":
        return F.col("src_ip")
    if track == "ip_dst":
        return F.col("dst_ip")
    return F.format_string("%s:%s", F.col("src_ip"), F.col("dst_ip"))


# flexbit direction table (reference flexbit condition dispatch,
# src/flexbit-mmap.c:106-258): a SET records the event's (src, dst,
# username); a condition with shape S compares the stored tuple against
# its own event per S.  Expressed as (set-side key, check-side key):
_FLEX_SHAPES = {
    "by_src": (lambda: F.col("src_ip"), lambda: F.col("src_ip")),
    "by_dst": (lambda: F.col("dst_ip"), lambda: F.col("dst_ip")),
    "both": (
        lambda: F.format_string("%s:%s", F.col("src_ip"), F.col("dst_ip")),
        lambda: F.format_string("%s:%s", F.col("src_ip"), F.col("dst_ip")),
    ),
    "reverse": (
        lambda: F.format_string("%s:%s", F.col("src_ip"), F.col("dst_ip")),
        lambda: F.format_string("%s:%s", F.col("dst_ip"), F.col("src_ip")),
    ),
    "none": (lambda: F.lit(""), lambda: F.lit("")),
    "username": (lambda: F.col("username"), lambda: F.col("username")),
}


def flex_shape(track: str) -> str | None:
    return track[len("flex_"):] if track.startswith("flex_") and track != "flex_auto" else None


def is_flexbit(track: str) -> bool:
    """A flexbit (flat tuple store) rather than a plain xbit: either a
    fixed direction shape or ``flex_auto`` (shape decided by the
    conditions that probe the bit)."""
    return track == "flex_auto" or flex_shape(track) is not None


def flex_set_key(shape: str) -> F.Column:
    return _FLEX_SHAPES[shape][0]()


def flex_check_key(shape: str) -> F.Column:
    return _FLEX_SHAPES[shape][1]()


# flexbit direction predicate: does a STORED tuple (src, dst, user) match
# the probing/unsetting EVENT per the given shape (reference condition
# dispatch src/flexbit-mmap.c:106-258; unset dispatch :973-1100)
def _flex_tuple_match(shape: str, stored: tuple, esrc, edst, euser) -> bool:
    ssrc, sdst, suser = stored
    if shape == "none":
        return True
    if shape == "both":
        return ssrc == esrc and sdst == edst
    if shape == "by_src":
        return ssrc == esrc
    if shape == "by_dst":
        return sdst == edst
    if shape == "reverse":
        return ssrc == edst and sdst == esrc
    if shape == "username":
        return suser == euser
    return False


#: verdict-gated set/unset kinds of chain rules: the walk applies
#: ``kind[1:]`` through bit_store_step only when the rule's own
#: condition verdict held and its after/threshold machines allowed it
CHAIN_KINDS = frozenset({"cset", "cunset", "cfset", "cfunset"})


def bit_store_step(
    state: dict, fstate: dict, kind: str, name, key, ts: float, expire, shape, tup
) -> bool | None:
    """Apply ONE xbit/flexbit store event in replay order; the only
    bit-store transition in the package (batch walk, stage-B chain and
    funnel walks).  Returns whether the bit is active for a
    ``check``/``fcheck``, None for the mutating kinds.

    ``state``: plain xbits, (name, key) -> (set_ts, expire)
    (src/xbit-mmap.c:181-264).  ``fstate``: flexbits, name ->
    {(src, dst, user): (set_ts, expire)} — the reference's flat tuple
    store, whose unset clears and whose check probes every stored tuple
    matching the event ``tup`` per ``shape`` (src/flexbit-mmap.c:106-258,
    :973-1100).  Expire 0 is permanent."""
    if kind == "set":
        state[(name, key)] = (ts, expire)
    elif kind == "unset":
        state.pop((name, key), None)
    elif kind == "check":
        st = state.get((name, key))
        return st is not None and bool(st[1] == 0 or (ts - st[0]) < st[1])
    elif kind == "fset":
        fstate.setdefault(name, {})[tup] = (ts, expire)
    elif kind == "funset":
        store = fstate.get(name)
        if store:
            for stored in [t for t in store if _flex_tuple_match(shape, t, *tup)]:
                del store[stored]
    elif kind == "fcheck":
        return any(
            (exp == 0 or (ts - set_ts) < exp) and _flex_tuple_match(shape, t, *tup)
            for t, (set_ts, exp) in fstate.get(name, {}).items()
        )
    else:
        raise ValueError(f"unknown bit-store event kind {kind!r}")
    return None


def _cond_shapes_by_bit(rules: list[RuleIR]) -> dict[str, set]:
    """Flexbit name -> direction shapes its isset/isnotset conditions
    probe.  A SET records (src, dst, username); the keyed store keeps
    one copy per (bit, shape), namespaced "name#shape"."""
    out: dict[str, set] = {}
    for r in rules:
        for x in r.xbits:
            s = flex_shape(x.track)
            if x.action in ("isset", "isnotset") and s is not None:
                out.setdefault(x.name, set()).add(s)
    return out


def _funnel_bits(rules: list[RuleIR]) -> set[str]:
    """Flexbit names that take the FUNNEL (flat tuple store) path: bits
    carrying an UNSET — the reference clears matching tuples across ALL
    shapes (flexbit-mmap.c:973-1100) — plus every flexbit a CHAIN rule
    touches (its verdict-gated sets and the checks that observe them
    replay in one ordered pass, so all access uses one storage form)."""
    chain_rules, _ = chain_components(rules)
    chain_sids = {r.sid for r in chain_rules}
    return {
        x.name
        for r in rules
        for x in r.xbits
        if is_flexbit(x.track) and (x.action == "unset" or r.sid in chain_sids)
    }


def _set_variants(x, shapes_by_bit: dict[str, set]) -> list[tuple[str, F.Column]]:
    """(bit_name, key expression) copies a keyed (non-funnel) set/unset
    writes: one per plain xbit; one per condition-probed shape for a
    flexbit (its own shape when the set fixes one)."""
    if not is_flexbit(x.track):
        return [(x.name, xbit_key_expr(x.track))]
    own = flex_shape(x.track)
    shapes = [own] if own else sorted(shapes_by_bit.get(x.name, ()))
    return [(f"{x.name}#{s}", flex_set_key(s)) for s in shapes]


def _check_variant(x) -> tuple[str, F.Column]:
    """(bit_name, key expression) a keyed (non-funnel) condition probes."""
    s = flex_shape(x.track)
    if s is not None:
        return f"{x.name}#{s}", flex_check_key(s)
    return x.name, xbit_key_expr(x.track)


def chain_components(rules: list[RuleIR]) -> tuple[list[RuleIR], dict[str, str]]:
    """Chain rules (a condition AND a set/unset on one rule) and the
    union-find components of every bit they touch (bit name -> component
    id).  Plain xbits AND flexbits are supported (a flexbit touched by a
    chain rule takes the flat-tuple-store funnel form inside the
    component walk — reference engine.c:999-1024 condition vs
    :1415-1427 set, flexbit store src/flexbit-mmap.c:106-258).  A chain
    rule carrying after/threshold runs its counters INSIDE the walk
    (advance_corr_machines): the reference advances After2/Threshold2
    only for condition-passing events (engine.c:1370-1389) and the same
    machine verdict gates both the alert and the set
    (engine.c:1402-1427)."""
    cond_rules = [
        r for r in rules if any(x.action in ("isset", "isnotset") for x in r.xbits)
    ]
    chain_rules = [
        r for r in cond_rules if any(x.action in ("set", "unset") for x in r.xbits)
    ]
    parent: dict[str, str] = {}

    def find(b: str) -> str:
        parent.setdefault(b, b)
        while parent[b] != b:
            parent[b] = parent[parent[b]]
            b = parent[b]
        return b

    for r in chain_rules:
        names = [x.name for x in r.xbits]
        for n in names[1:]:
            parent[find(names[0])] = find(n)
    return chain_rules, {b: find(b) for b in parent}


def apply_xbits(
    hits: DataFrame,
    rules: list[RuleIR],
    survived: DataFrame | None = None,
) -> DataFrame:
    """Evaluate isset/isnotset conditions for rules that carry them.

    ``hits``: candidate hits of condition rules (pre-routing).
    ``survived``: alerts (post after/threshold) of setter rules — the only
    events allowed to set/unset bits (reference engine.c:1415-1427).

    Returns hits with an ``xbit_ok`` boolean.  Exact event-time replay per
    (bit name, key): set/unset/check events sorted on
    (ts, event_key, rule position, check-before-set); a check sees a bit
    as set iff the latest set before it is not unset and not expired
    (reference src/xbit-mmap.c:181-264).

    Flexbit bits WITHOUT unsets distribute per (bit, condition-shape
    copy, key).  A flexbit UNSET clears every stored tuple matching its
    direction predicate — including tuples another shape's copy would
    probe (reference src/flexbit-mmap.c:973-1100 scans the whole store)
    — so bits carrying unsets take the FUNNEL path: all their events
    colocate per bit name and the walk replays the reference's
    flat-tuple-store scan exactly.  The reference serializes *all*
    flexbit ops behind one file lock; a per-bit funnel is still strictly
    more parallel.
    """
    cond_rules = [r for r in rules if any(x.action in ("isset", "isnotset") for x in r.xbits)]
    if not cond_rules:
        return hits.withColumn("xbit_ok", F.lit(True))

    set_rules = [r for r in rules if any(x.action in ("set", "unset") for x in r.xbits)]

    # CHAIN rules: check one bit AND set/unset another (stage-2
    # escalation; reference evaluates the condition at engine.c:999-1024
    # and applies the set at :1415-1427 only for fully-matched rules).
    # Their set events are GATED on their own check verdict, so every
    # bit a chain rule touches — and transitively every bit sharing a
    # chain rule with those — funnels into ONE walk partition per
    # connected component (the reference serializes the whole store;
    # one component per task is still strictly more parallel).
    chain_rules, chain_members = chain_components(rules)
    chain_sids = {r.sid for r in chain_rules}

    # chain rules carrying after/threshold: their counters advance
    # inside the walk, on condition-PASSING events only, and the same
    # machine verdict gates the alert AND the set (reference
    # engine.c:1370-1389 counters inside routing, :1402-1427 gated set).
    # Their set events carry (csid, a_key, t_key) so the walk can key
    # the machines; the three columns exist only when such a rule is
    # present — the common no-chain-corr plan is unchanged.
    chain_corr_specs = _corr_spec_map(chain_rules)
    has_chain_corr = bool(chain_corr_specs)

    def _corr_cols_null():
        if not has_chain_corr:
            return []
        return [
            F.lit(None).cast("long").alias("csid"),
            _null_s.alias("a_key"),
            _null_s.alias("t_key"),
        ]

    def _corr_cols_for(r: RuleIR):
        if not has_chain_corr or r.sid not in chain_corr_specs:
            return _corr_cols_null()
        return [
            F.lit(r.sid).alias("csid"),
            F.col("track_after").alias("a_key"),
            F.col("track_threshold").alias("t_key"),
        ]

    shapes_by_bit = _cond_shapes_by_bit(rules)
    funnel_bits = _funnel_bits(rules)

    _null_s = F.lit(None).cast("string")
    hit_id_col = F.concat_ws("#", F.col("event_key"), F.col("sid").cast("string"))

    def _event(df, r, x, bit_name, key, kind, *, tuple_cols, chain=False):
        """One walk-event branch: rule ``r``'s rows of ``df`` as ``kind``
        events of its xbit ``x`` on ``bit_name``/``key``.  Within one
        event, rules replay in position order and a rule's own check
        (seq 2p) precedes its set (2p+1) — engine.c:999-1024 vs
        1415-1427.  Checks and chain sets carry a hit_id (verdict
        join, chain gating); ``tuple_cols`` events carry the event's
        (src, dst, user) tuple and the bit's direction shape."""
        check = x.action in ("isset", "isnotset")
        tup = (
            [
                F.col("src_ip").alias("e_src"),
                F.col("dst_ip").alias("e_dst"),
                F.coalesce(F.col("username"), F.lit("")).alias("e_user"),
            ]
            if tuple_cols
            else [_null_s.alias("e_src"), _null_s.alias("e_dst"), _null_s.alias("e_user")]
        )
        return df.filter(F.col("sid") == r.sid).select(
            F.lit(bit_name).alias("bit_name"),
            key.alias("bit_key"),
            ts_seconds_d(F.col("ts")).alias("ts_d"),
            F.col("event_key"),
            F.lit(r.position * 2 + (0 if check else 1)).alias("seq"),
            F.lit(kind).alias("kind"),
            F.lit(0 if check else x.expire).alias("expire"),
            (hit_id_col if check or chain else _null_s).alias("hit_id"),
            F.lit(x.action == "isset").alias("want_set"),
            F.lit((flex_shape(x.track) or "") if tuple_cols else "").alias("shape"),
            *tup,
            *(_corr_cols_for(r) if chain else _corr_cols_null()),
        )

    spark_events = []
    # plain set/unset events come from alerts that survived
    # after/threshold (engine.c:1415-1427)
    src = survived if survived is not None else hits

    # chain rules: set/unset events come from their CANDIDATE hits (the
    # walk gates them on the rule's own check verdict, recorded earlier
    # in the same ordered pass); a chain FLEXBIT set/unset goes into
    # the component funnel's flat store
    for r in chain_rules:
        for x in r.xbits:
            if x.action not in ("set", "unset"):
                continue
            flex = is_flexbit(x.track)
            key = F.lit("") if flex else xbit_key_expr(x.track)
            kind = ("cf" if flex else "c") + x.action
            spark_events.append(_event(hits, r, x, x.name, key, kind, tuple_cols=flex, chain=True))

    for r in set_rules:
        if r.sid in chain_sids:
            continue  # staged above, gated on the rule's own condition
        for x in r.xbits:
            if x.action not in ("set", "unset"):
                continue
            # funnel: one tuple-carrying event, colocated per bit name
            funnel = is_flexbit(x.track) and x.name in funnel_bits
            variants = [(x.name, F.lit(""))] if funnel else _set_variants(x, shapes_by_bit)
            kind = ("f" if funnel else "") + x.action
            for bit_name, key in variants:
                spark_events.append(_event(src, r, x, bit_name, key, kind, tuple_cols=funnel))

    # explode condition entries of candidate hits
    for r in cond_rules:
        for x in r.xbits:
            if x.action not in ("isset", "isnotset"):
                continue
            funnel = flex_shape(x.track) is not None and x.name in funnel_bits
            bit_name, key = (x.name, F.lit("")) if funnel else _check_variant(x)
            kind = "fcheck" if funnel else "check"
            spark_events.append(_event(hits, r, x, bit_name, key, kind, tuple_cols=funnel))

    if not spark_events:
        return hits.withColumn("xbit_ok", F.lit(True))

    events = spark_events[0]
    for e in spark_events[1:]:
        events = events.unionByName(e)

    out_fields = [
        T.StructField("hit_id", T.StringType()),
        T.StructField("ok", T.BooleanType()),
    ]
    if has_chain_corr:
        out_fields += [
            T.StructField("suppressed_after", T.BooleanType()),
            T.StructField("suppressed_threshold", T.BooleanType()),
        ]
    out_struct = T.StructType(out_fields)

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # (bit_name, bit_key) -> (set_ts, expire); carried across batches
        state: dict = {}
        # funnel bits: bit_name -> {(src, dst, user): (set_ts, expire)} —
        # the reference's flat tuple store (src/flexbit-mmap.c)
        fstate: dict = {}
        # chain gating: hit_id -> AND of that rule's check verdicts so
        # far (its cset/cunset events sort after all its checks)
        ver: dict = {}
        # chain after/threshold machines (advance_corr_machines) — keyed
        # (sid, track-key); corr_flags caches one verdict per hit so a
        # multi-set rule advances its counters exactly once per event
        a_state: dict = {}
        t_state: dict = {}
        corr_flags: dict = {}
        for pdf in batches:
            out_ids: list[str] = []
            out_ok: list[bool | None] = []
            out_sa: list[bool | None] = []
            out_st: list[bool | None] = []
            if has_chain_corr:
                csids = pdf["csid"].to_numpy()
                a_keys = pdf["a_key"].to_numpy()
                t_keys = pdf["t_key"].to_numpy()
            it = zip(
                range(len(pdf)),
                pdf["bit_name"].to_numpy(),
                pdf["bit_key"].to_numpy(),
                pdf["ts_d"].to_numpy(),
                pdf["kind"].to_numpy(),
                pdf["expire"].to_numpy(),
                pdf["hit_id"].to_numpy(),
                pdf["want_set"].to_numpy(),
                pdf["shape"].to_numpy(),
                pdf["e_src"].to_numpy(),
                pdf["e_dst"].to_numpy(),
                pdf["e_user"].to_numpy(),
            )

            def _corr_gate(i, hit_id, ts_d) -> bool:
                """after/threshold gate for a chain set event whose
                condition verdict held: advance the machines once per
                hit (first set event), emit the flag row, and allow the
                set only when neither machine suppresses
                (engine.c:1402-1427)."""
                if not has_chain_corr:
                    return True
                cs = csids[i]
                if cs is None or pd.isna(cs):
                    return True
                fl = corr_flags.get(hit_id)
                if fl is None:
                    spec = chain_corr_specs.get(int(cs))
                    if spec is None:
                        return True
                    cs = int(cs)
                    fl = advance_corr_machines(
                        spec, a_state, t_state, int(ts_d), (cs, a_keys[i]), (cs, t_keys[i])
                    )
                    corr_flags[hit_id] = fl
                    out_ids.append(hit_id)
                    out_ok.append(None)
                    out_sa.append(fl[0])
                    out_st.append(fl[1])
                return not (fl[0] or fl[1])

            for i, name, key, ts_d, kind, expire, hit_id, want_set, shape, esrc, edst, euser in it:
                if kind in CHAIN_KINDS:
                    # chain set/unset: fires only when the rule's own
                    # condition verdict held (engine.c:1415-1427) AND its
                    # after/threshold machines allowed the event
                    if not (ver.get(hit_id, False) and _corr_gate(i, hit_id, ts_d)):
                        continue
                    kind = kind[1:]
                active = bit_store_step(
                    state, fstate, kind, name, key, ts_d, expire, shape, (esrc, edst, euser)
                )
                if active is None:
                    continue
                ok = active == bool(want_set)
                # chain gating: a rule's own check verdict gates its set
                # later in the same ordered pass
                ver[hit_id] = ver.get(hit_id, True) and ok
                out_ids.append(hit_id)
                out_ok.append(ok)
                out_sa.append(None)
                out_st.append(None)
            out = {"hit_id": out_ids, "ok": pd.array(out_ok, dtype="boolean")}
            if has_chain_corr:
                out["suppressed_after"] = pd.array(out_sa, dtype="boolean")
                out["suppressed_threshold"] = pd.array(out_st, dtype="boolean")
            yield pd.DataFrame(out)

    if chain_members:
        # all events of a chain component colocate (the gated set and
        # the checks that observe it live in one ordered pass); other
        # bits keep the per-(bit, key) spread
        comp_expr = F.lit(None).cast("string")
        for bit, comp in chain_members.items():
            comp_expr = F.when(F.col("bit_name") == bit, F.lit(f"\x00{comp}")).otherwise(
                comp_expr
            )
        part_key = F.coalesce(
            comp_expr, F.concat_ws("\x01", F.col("bit_name"), F.col("bit_key"))
        )
        events = events.withColumn("part_key", part_key)
        shuffled = events.repartition(_shuffle_partitions(events), "part_key")
    else:
        shuffled = events.repartition(
            _shuffle_partitions(events), "bit_name", "bit_key"
        )
    verdicts = (
        shuffled.sortWithinPartitions("ts_d", "event_key", "seq")
        .mapInPandas(walk, schema=out_struct)
    )
    # all condition entries of a hit must hold (xbit-mmap.c:181-264);
    # with one condition per rule (the common case) each hit_id is unique
    # and the aggregate collapses to a rename
    multi_cond = any(
        sum(1 for x in r.xbits if x.action in ("isset", "isnotset")) > 1 for r in cond_rules
    )
    if has_chain_corr:
        # a chain-corr hit carries a flag row besides its check rows:
        # min(ok) skips the flag row's null; max(flag) skips the check
        # rows' nulls
        agg = verdicts.groupBy("hit_id").agg(
            F.min("ok").alias("xbit_ok"),
            F.coalesce(F.max("suppressed_after"), F.lit(False)).alias(
                "chain_sup_after"
            ),
            F.coalesce(F.max("suppressed_threshold"), F.lit(False)).alias(
                "chain_sup_thr"
            ),
        )
    elif multi_cond:
        agg = verdicts.groupBy("hit_id").agg(F.min("ok").alias("xbit_ok"))
    else:
        agg = verdicts.withColumnRenamed("ok", "xbit_ok")

    hits_with_id = hits.withColumn("hit_id", hit_id_col)
    cond_sids = [r.sid for r in cond_rules]
    # verdict set scales with the alert volume — regular (shuffle) join,
    # not broadcast; AQE picks broadcast when it is actually small
    joined = hits_with_id.join(agg, "hit_id", "left").withColumn(
        "xbit_ok",
        F.when(~F.col("sid").isin(cond_sids), F.lit(True)).otherwise(
            F.coalesce(F.col("xbit_ok"), F.lit(False))
        ),
    )
    if has_chain_corr:
        # chain-corr sids' alert gating comes from the walk's machines;
        # the engine reads these instead of re-running
        # apply_after_threshold for them (one machine instance gates
        # both the alert and the set, engine.c:1402-1427)
        joined = joined.withColumn(
            "chain_sup_after", F.coalesce(F.col("chain_sup_after"), F.lit(False))
        ).withColumn(
            "chain_sup_thr", F.coalesce(F.col("chain_sup_thr"), F.lit(False))
        )
    return joined.drop("hit_id")
