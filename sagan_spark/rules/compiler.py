"""RuleIR -> Catalyst compiler.

Turns a list of :class:`RuleIR` into:

- a shared *extraction plan* (which once-per-event columns any rule needs:
  JSON flatten map, Parse_IP positional cache, per-type hash columns) —
  the Spark analog of the reference's parse-once caching
  (reference src/processors/engine.c:736-806);
- a per-rule *cheap predicate* Column (prefilters + content + meta_content
  + pcre + json matchers + event_id + alert_time — everything evaluable
  before field extraction), evaluation order mirroring the engine's
  cheap-to-expensive discipline (reference
  doc/source/high-performance.rst:79-94, src/processors/engine.c:272-276);
- a per-rule *alert struct* Column carrying the final match boolean
  (cheap AND flow AND localhost-corrected extraction) plus all extracted
  fields the sinks need (reference Send_Alert src/send-alert.c:50-119);
- driver-side correlation specs (threshold/after/xbits) and routing
  metadata consumed by :mod:`sagan_spark.pipeline.correlate` / ``route``.

The rule fan-out is columnar: all rules become parallel boolean columns
inside one projection, so Catalyst CSEs shared subexpressions and
whole-stage codegen fuses the entire ruleset into one pass over the data
— there is no per-rule loop at execution time.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column
from pyspark.sql import functions as F

from sagan_spark.functions import textmatch as tm
from sagan_spark.functions.extract import (
    DEFAULT_SAGAN_PORT,
    hash_regex,
)
from sagan_spark.rules.ir import CidrGroup, PortGroup, RuleIR


@dataclass
class EngineConfig:
    """Engine-level knobs (reference etc/sagan.yaml 'sagan-core')."""

    sagan_port: int = DEFAULT_SAGAN_PORT  # reference src/config-yaml.c:227
    sagan_host: str = "0.0.0.0"
    # substring ignore-list applied pre-engine (F14, reference src/ignore.c:31-50)
    ignore_list: list[str] = field(default_factory=list)
    # enrichment build sides (J1/J2/J4): compiled once on the driver,
    # inlined as literal-array probes (see pipeline/enrich.py for the
    # broadcast-join scale path when feeds outgrow plan inlining)
    blacklist_cidrs: list[str] = field(default_factory=list)
    geoip_ranges: list[tuple[str, str]] = field(default_factory=list)  # (cidr, CC)
    intel_sets: dict[str, list[str]] = field(default_factory=dict)  # type -> entries
    # protocol.map analogs (J5/P5, reference src/protocol-map.c): keyword
    # -> proto, probed case-insensitively in entry order, 0 on miss
    protocol_map_message: dict[str, int] = field(
        default_factory=lambda: {"tcp": 6, "udp": 17, "icmp": 1}
    )
    protocol_map_program: dict[str, int] = field(default_factory=dict)
    # J3 bluedot static intel snapshot (reference src/processors/bluedot.c
    # live HTTP + cache; here a frozen feed): type -> {indicator: category}
    # with types ip_reputation / file_hash / url / filename / ja3
    bluedot_intel: dict[str, dict[str, str]] = field(default_factory=dict)
    # skew: sample the correlation key histogram and give hot
    # (sid, track-key) groups dedicated shuffle slots (pipeline/skew.py)
    hot_key_isolation: bool = False
    # offload gate (reference src/offload.c): callable
    # (location, [payload, ...]) -> [bool, ...] evaluated Arrow-batched
    # on candidate rows of rules carrying `offload:`.  None = use the
    # urllib default (one POST per payload, response must contain
    # "true", connection failure = False — the reference's libcurl
    # behavior).  Tests/offline runs inject a fake.
    offload_poster: object = None


@dataclass
class EventCols:
    """The canonical event frame the compiler binds against."""

    event_key: Column  # unique per event (url); deterministic tiebreaker
    ts: Column  # event time (warc_ts)
    host: Column  # syslog_host analog
    program: Column
    facility: Column
    level: Column
    tag: Column
    priority: Column  # syslog_priority (reference src/sagan.h:387)
    message: Column  # the text all matching runs on
    json: Column | None = None  # map<string,string> (flattened)
    ips: Column | None = None  # array<struct<ip,port,hi,lo>>
    ip_proto: Column | None = None  # proto token from Parse_IP
    hash_cols: dict[str, Column] = field(default_factory=dict)  # md5/sha1/sha256
    # SHARED precomputed v4 (hi, lo) halves — evaluated once per row by
    # the engine, referenced by every rule's ip-bits branches so the
    # per-rule trees stay regex-free (see RuleCompiler._ip_bits)
    host_v4: tuple[Column, Column] | None = None
    jm_v4: dict[str, tuple[Column, Column]] = field(default_factory=dict)


# ---------------------------------------------------------------------------
# per-rule building blocks
# ---------------------------------------------------------------------------


def _rule_program(r: RuleIR, cols: EventCols) -> Column:
    """Per-rule view of the program: json_map 'program' override
    (reference overrides syslog_program from the decoded JSON before
    the program check, src/processors/engine.c:323-488)."""
    prog = cols.program
    jm = _json_map_value(r, cols, "program")
    if jm is not None:
        prog = F.coalesce(jm, prog)
    return prog


def _rule_message(r: RuleIR, cols: EventCols) -> Column:
    """Per-rule view of the message: json_map 'message' override
    (reference src/processors/engine.c:323-488) then append_program
    (reference src/processors/engine.c:593-627, 'msg | program')."""
    msg = cols.message
    prog = _rule_program(r, cols)
    for jm in r.json_maps:
        if jm.field == "message" and cols.json is not None:
            msg = F.coalesce(F.try_element_at(cols.json, F.lit(jm.key)), msg)
    if r.append_program:
        msg = F.when(
            prog.isNotNull() & (prog != ""),
            F.concat(msg, F.lit(" | "), prog),
        ).otherwise(msg)
    return msg


def _json_map_value(r: RuleIR, cols: EventCols, fld: str) -> Column | None:
    if cols.json is None:
        return None
    for jm in r.json_maps:
        if jm.field == fld:
            return F.try_element_at(cols.json, F.lit(jm.key))
    return None


def _json_map_key(r: RuleIR, fld: str) -> str | None:
    for jm in r.json_maps:
        if jm.field == fld:
            return jm.key
    return None


def _active_ip(c: Column) -> Column:
    """The complement of _localhost_fix's replace condition: a string
    that survives as the final ip (non-null, non-empty, not localhost —
    reference is_notlocalhost src/util.c:1398-1460)."""
    return c.isNotNull() & (c != "") & ~(c.startswith("127.") | (c == "::1"))


def _b64_decode(v: Column) -> Column:
    """P10: decode a base64 JSON value before matching; null on invalid
    input (reference src/json-content.c:79-84 — the C quietly matches
    the decode buffer; try_to_binary keeps ANSI mode from throwing)."""
    return F.decode(F.try_to_binary(v, F.lit("base64")), "UTF-8")


def _json_predicates(r: RuleIR, cols: EventCols) -> Column:
    """json_content / json_strstr / json_pcre / json_meta_content
    (reference src/json-content.c:47-172, src/json-pcre.c:46-103,
    src/json-meta-content.c).  Missing key => rule fails, even for
    negated matches (reference src/json-content.c:157-163)."""
    pred = F.lit(True)
    if cols.json is None:
        if r.json_contents or r.json_pcres or r.json_meta_contents:
            return F.lit(False)
        return pred
    for jc in r.json_contents:
        v = F.try_element_at(cols.json, F.lit(jc.key))
        val = _b64_decode(v) if r.json_decode_base64 else v
        hay = F.lower(val) if jc.nocase else val
        m = hay.contains(F.lit(jc.value)) if jc.strstr else (hay == F.lit(jc.value))
        m = ~m if jc.negated else m
        pred = pred & v.isNotNull() & F.coalesce(m, F.lit(False))
    for jp in r.json_pcres:
        v = F.try_element_at(cols.json, F.lit(jp.key))
        val = _b64_decode(v) if r.json_decode_base64_pcre else v
        pred = pred & F.coalesce(val.rlike(jp.python_flags_pattern), F.lit(False))
    for jm in r.json_meta_contents:
        v = F.try_element_at(cols.json, F.lit(jm.key))
        val = _b64_decode(v) if r.json_decode_base64_meta else v
        hay = F.lower(val) if jm.nocase else val
        any_hit = F.lit(False)
        for lit in jm.literals:
            # default strcmp EQUALITY; json_meta_contains -> substring
            # (reference Search_Case src/search-type.c:39-67 via
            # src/json-meta-content.c:146, flag src/rules.c:2285-2295)
            hit = hay.contains(F.lit(lit)) if jm.strstr else (hay == F.lit(lit))
            any_hit = any_hit | hit
        m = ~any_hit if jm.negated else any_hit
        pred = pred & v.isNotNull() & F.coalesce(m, F.lit(False))
    return pred


def _cidr_group_predicate(hi: Column, lo: Column, groups: list[CidrGroup]) -> Column:
    """CIDR membership on biased (hi, lo) 128-bit halves.

    Positive entries OR together; negated entries are AND NOT
    (reference Check_Flow src/flow.c:48-504)."""
    from sagan_spark.functions.extract import int_to_biased_hilo

    def in_range(g: CidrGroup) -> Column:
        lo_hi, lo_lo = int_to_biased_hilo(g.lo)
        hi_hi, hi_lo = int_to_biased_hilo(g.hi)
        ge = (hi > F.lit(lo_hi)) | ((hi == F.lit(lo_hi)) & (lo >= F.lit(lo_lo)))
        le = (hi < F.lit(hi_hi)) | ((hi == F.lit(hi_hi)) & (lo <= F.lit(hi_lo)))
        return ge & le

    pred = F.lit(True)
    positives = [g for g in groups if not g.negated]
    if positives:
        any_pos = F.lit(False)
        for g in positives:
            any_pos = any_pos | in_range(g)
        pred = pred & any_pos
    for g in groups:
        if g.negated:
            pred = pred & ~F.coalesce(in_range(g), F.lit(False))
    return pred


def _port_group_predicate(port: Column, groups: list[PortGroup]) -> Column:
    pred = F.lit(True)
    positives = [g for g in groups if not g.negated]
    if positives:
        any_pos = F.lit(False)
        for g in positives:
            any_pos = any_pos | port.between(g.lo, g.hi)
        pred = pred & any_pos
    for g in groups:
        if g.negated:
            pred = pred & ~F.coalesce(port.between(g.lo, g.hi), F.lit(False))
    return pred


class RuleCompiler:
    """Compile a ruleset once on the driver; reuse across batches."""

    def __init__(self, rules: list[RuleIR], config: EngineConfig | None = None):
        self.rules = rules
        self.config = config or EngineConfig()

    # -- extraction plan ----------------------------------------------------

    @property
    def needs_json(self) -> bool:
        return any(r.needs_json for r in self.rules)

    @property
    def needs_parse_ip(self) -> bool:
        return any(r.uses_ip_cache for r in self.rules)

    @property
    def needed_hashes(self) -> set[str]:
        return {r.parse_hash for r in self.rules if r.parse_hash}

    def hash_extraction_cols(self, msg: Column) -> dict[str, Column]:
        """Built-in regexp_extract equivalents of Parse_Hash (JVM-side)
        (reference src/parsers/hash.c:41-153)."""
        return {
            h: F.regexp_extract(msg, hash_regex(h), 1) for h in self.needed_hashes
        }

    # -- predicates ----------------------------------------------------------

    def cheap_predicate(self, r: RuleIR, cols: EventCols) -> Column:
        """Everything evaluable without Parse_IP, in engine order
        (reference src/processors/engine.c:492-787)."""
        msg = _rule_message(r, cols)
        pred = cols.message.isNotNull() & (F.length(cols.message) > 0)  # F13
        pred = pred & tm.program_predicate(_rule_program(r, cols), r.programs)  # F1
        pred = pred & tm.isin_predicate(cols.facility, r.facilities)  # F2
        pred = pred & tm.isin_predicate(cols.level, r.levels)
        pred = pred & tm.isin_predicate(cols.tag, r.tags)
        pred = pred & tm.isin_predicate(cols.priority, r.syslog_priorities)
        if r.contents:
            pred = pred & tm.content_predicate(msg, r.contents)  # F3
        if r.meta_contents:
            pred = pred & tm.meta_content_predicate(msg, r.meta_contents)  # F5
        if r.pcres:
            pred = pred & tm.pcre_predicate(msg, r.pcres)  # F4
        pred = pred & _json_predicates(r, cols)  # F6-F8
        if r.event_ids:
            decoded = self._decoded_event_id(r, cols)
            pred = pred & tm.event_id_predicate(msg, decoded, r.event_ids)  # F9
        if r.alert_time is not None:
            pred = pred & tm.alert_time_predicate(cols.ts, r.alert_time)  # F11
        return pred

    def _decoded_event_id(self, r: RuleIR, cols: EventCols) -> Column:
        jm = _json_map_value(r, cols, "event_id")
        return jm if jm is not None else F.lit("")

    # -- extraction (per rule, evaluated on candidate subset) ----------------

    def _parsed_hit(self, cols: EventCols, pos: int):
        """lookup_cache[pos-1] when status==true (engine.c:812-843)."""
        if pos <= 0 or cols.ips is None:
            return None
        return F.try_element_at(cols.ips, F.lit(pos))  # null when out of range

    @property
    def ip_json_map_keys(self) -> list[str]:
        """Distinct json_map keys feeding src_ip/dst_ip across the
        ruleset — the engine precomputes one shared v4 (hi, lo) column
        pair per key (plus one for the host fallback)."""
        return sorted(
            {
                jm.key
                for r in self.rules
                for jm in r.json_maps
                if jm.field in ("src_ip", "dst_ip")
            }
        )

    def _ip_bits(
        self, jm: Column | None, jm_key: str | None, hit, cols: EventCols
    ) -> tuple[Column, Column]:
        """(hi, lo) of the FINAL resolved ip string with the positional
        hit's halves as the non-v4 fallback — semantically
        coalesce(v4_hilo(localhost_fix(coalesce(jm, hit.ip, host))),
        hit.hi/lo), but built as branches over SHARED precomputed
        columns (cols.host_v4 / cols.jm_v4) so no string parse appears
        in any per-rule tree.  Key identity: for an active hit,
        v4_hilo(hit.ip) IS (hit.hi, hit.lo) when hit.ip is v4 (same
        mapped-base+bias formula, extract.ip_to_int), and NULL when v6 —
        either way the coalesce resolves to the hit's own halves.
        Inlining 8 regexp_extract per rule side here instead blew the
        whole-stage-codegen budget and cost 4x end-to-end (round 2)."""
        from sagan_spark.pipeline.enrich import v4_hilo_cols

        host_v4 = cols.host_v4 if cols.host_v4 is not None else v4_hilo_cols(cols.host)
        jm_v4: tuple[Column, Column] | None = None
        if jm is not None:
            jm_v4 = cols.jm_v4.get(jm_key) if jm_key is not None else None
            if jm_v4 is None:  # unmaterialized path (direct compiler use)
                jm_v4 = v4_hilo_cols(jm)
        hit_ip = hit.getField("ip") if hit is not None else None

        def side(part: int) -> Column:
            hit_half = (
                hit.getField("hi" if part == 0 else "lo") if hit is not None else None
            )
            host_half = host_v4[part]
            # final-string-is-host branch: host's v4 bits, else the hit
            # fallback (bug-compatible with the coalesce form: a
            # localhost hit's halves leak through when host is not v4)
            fb = F.coalesce(host_half, hit_half) if hit is not None else host_half
            if jm is not None and hit is not None:
                # jm active but not v4 (e.g. v6): the hit's halves are
                # bits of a DIFFERENT address unless the strings agree —
                # only borrow them on equality, else NULL (fail-closed,
                # like a hostname; reference IP2Bit parses the resolved
                # v6 itself, a path we take only via the positional hit)
                return (
                    F.when(
                        _active_ip(jm),
                        F.coalesce(jm_v4[part], F.when(jm == hit_ip, hit_half)),
                    )
                    .when(jm.isNull() & _active_ip(hit_ip), hit_half)
                    .otherwise(fb)
                )
            if jm is not None:
                return F.when(_active_ip(jm), jm_v4[part]).otherwise(host_half)
            if hit is not None:
                return F.when(_active_ip(hit_ip), hit_half).otherwise(fb)
            return host_half

        return side(0), side(1)

    def _localhost_fix(self, ip: Column, cols: EventCols) -> Column:
        """Never emit localhost as src/dst — replace with syslog_host
        (reference src/processors/engine.c:856-877, is_notlocalhost
        src/util.c:1398-1460)."""
        is_local = ip.startswith("127.") | (ip == "::1")
        return F.when(ip.isNull() | (ip == "") | is_local, cols.host).otherwise(ip)

    @staticmethod
    def _ext_signature(r: RuleIR) -> tuple:
        """Everything :meth:`extraction_exprs` (and the helpers it calls —
        ``_rule_message``/``_rule_program``/``_json_map_value``/
        ``_decoded_event_id``/``_parsed_hit``/``_ip_bits``) reads from the
        rule.  Two rules with equal signatures produce IDENTICAL extraction
        Column trees against the same ``cols``, so the trees can be shared
        (Columns are immutable expression handles).  Production rulesets
        are highly repetitive in extraction shape (thousands of rules, a
        handful of ``parse_src_ip``/``json_map``/default combinations), and
        each tree costs hundreds of py4j round trips to build — sharing
        them is a driver-side plan-build win, not an execution change."""
        return (
            r.parse_src_ip_pos,
            r.parse_dst_ip_pos,
            tuple((jm.field, jm.key) for jm in r.json_maps),
            r.default_src_port,
            r.default_dst_port,
            r.default_proto,
            r.parse_proto,
            r.parse_proto_program,
            tuple(r.event_ids),
            r.parse_hash,
            r.append_program,
        )

    def extraction_exprs(
        self, r: RuleIR, cols: EventCols,
        memo: dict[tuple, dict[str, Column]] | None = None,
    ) -> dict[str, Column]:
        """Final per-rule field values, replicating engine.c:788-921 order:
        json_map/normalize wins; else Parse_IP positional cache; else
        syslog_host. default_src/dst_port overrides a Parse_IP port when no
        json port was decoded (port_*_is_valid only set by decode);
        default_proto overrides everything.

        ``memo``: optional per-``cols`` cache keyed by
        :meth:`_ext_signature` — the caller owns its lifetime and MUST not
        reuse it across different ``cols`` bindings."""
        if memo is not None:
            key = self._ext_signature(r)
            hit = memo.get(key)
            if hit is not None:
                return hit
        out: dict[str, Column] = {}
        src_hit = self._parsed_hit(cols, r.parse_src_ip_pos)
        dst_hit = self._parsed_hit(cols, r.parse_dst_ip_pos)

        jm_src = _json_map_value(r, cols, "src_ip")
        jm_dst = _json_map_value(r, cols, "dst_ip")

        src_candidates = [c for c in (jm_src, src_hit.getField("ip") if src_hit is not None else None) if c is not None]
        dst_candidates = [c for c in (jm_dst, dst_hit.getField("ip") if dst_hit is not None else None) if c is not None]
        src_ip = F.coalesce(*src_candidates, cols.host) if src_candidates else cols.host
        dst_ip = F.coalesce(*dst_candidates, cols.host) if dst_candidates else cols.host
        out["src_ip"] = self._localhost_fix(src_ip, cols)
        out["dst_ip"] = self._localhost_fix(dst_ip, cols)

        # hi/lo for flow/blacklist/geoip checks: derived from the FINAL
        # ip string (reference IP2Bit on the resolved value,
        # engine.c:852) — json_map values and dotted-quad host fallbacks
        # get real bits; the positional hit's precomputed halves cover
        # v6.  A non-IP final string (hostname) leaves NULL halves:
        # positive CIDR groups fail, negated ones pass — the same
        # outcomes as the reference's zeroed-bits fallback.
        out["src_hi"], out["src_lo"] = self._ip_bits(
            jm_src, _json_map_key(r, "src_ip"), src_hit, cols
        )
        out["dst_hi"], out["dst_lo"] = self._ip_bits(
            jm_dst, _json_map_key(r, "dst_ip"), dst_hit, cols
        )

        jm_sport = _json_map_value(r, cols, "src_port")
        jm_dport = _json_map_value(r, cols, "dst_port")

        def port_expr(jm: Column | None, default_port: int, hit) -> Column:
            rest: Column
            if default_port:  # default overrides Parse_IP port (engine.c:905-918)
                rest = F.lit(default_port)
            elif hit is not None:
                rest = F.coalesce(hit.getField("port"), F.lit(self.config.sagan_port))
            else:
                rest = F.lit(self.config.sagan_port)
            if jm is not None:
                return F.coalesce(jm.try_cast("int"), rest)
            return rest

        out["src_port"] = port_expr(jm_sport, r.default_src_port, src_hit)
        out["dst_port"] = port_expr(jm_dport, r.default_dst_port, dst_hit)

        # proto, replicating engine.c:893-921 assignment order exactly:
        # Parse_IP literal token -> parse_proto(message) overwrites (0 on
        # miss, proto.c:51-107) -> parse_proto_program(program) overwrites
        # -> default_proto overwrites unconditionally when set
        # json_map proto wins over the Parse_IP literal token when both
        # exist (reference: normalization always overrides parse_*
        # unless the decode failed, engine.c:794-806)
        jm_proto = _json_map_value(r, cols, "proto")
        if cols.ip_proto is not None and r.needs_parse_ip:
            base = F.coalesce(cols.ip_proto, F.lit(0))
        else:
            base = F.lit(0)
        proto = F.coalesce(jm_proto.try_cast("int"), base) if jm_proto is not None else base
        if r.parse_proto and self.config.protocol_map_message:
            proto = self._proto_probe(cols.message, self.config.protocol_map_message)
        if r.parse_proto_program and (
            self.config.protocol_map_program or self.config.protocol_map_message
        ):
            pm = self.config.protocol_map_program or self.config.protocol_map_message
            proto = self._proto_probe(_rule_program(r, cols), pm)
        if r.default_proto:
            proto = F.lit(r.default_proto)
        out["proto"] = proto

        jm_user = _json_map_value(r, cols, "username")
        out["username"] = jm_user if jm_user is not None else F.lit("")

        msg = _rule_message(r, cols)
        if r.event_ids:
            out["event_id"] = tm.event_id_extract(msg, self._decoded_event_id(r, cols), r.event_ids)
        else:
            out["event_id"] = self._decoded_event_id(r, cols)

        for h in ("md5", "sha1", "sha256"):
            if r.parse_hash == h and h in cols.hash_cols:
                out[h] = cols.hash_cols[h]
            else:
                jm_h = _json_map_value(r, cols, h)
                out[h] = jm_h if jm_h is not None else F.lit("")
        if memo is not None:
            memo[key] = out
        return out

    @staticmethod
    def _proto_probe(col: Column, keyword_map: dict[str, int]) -> Column:
        """Delegates to the single shared probe (enrich.proto_probe_col)
        so the two call sites citing proto.c:51-107 cannot diverge."""
        from sagan_spark.pipeline.enrich import proto_probe_col

        return proto_probe_col(col, keyword_map)

    def flow_predicate(self, r: RuleIR, ext: dict[str, Column]) -> Column:
        """Rule header nets/ports/proto gate (reference src/flow.c:48-504).

        An 'any' group is always true.  Non-any groups require the field
        to have been extracted (null hi/lo fails, like the reference
        failing on unresolvable ips)."""
        f = r.flow
        pred = F.lit(True)
        if f.src_nets:
            pred = pred & F.coalesce(
                _cidr_group_predicate(ext["src_hi"], ext["src_lo"], f.src_nets),
                F.lit(False),
            )
        if f.dst_nets:
            pred = pred & F.coalesce(
                _cidr_group_predicate(ext["dst_hi"], ext["dst_lo"], f.dst_nets),
                F.lit(False),
            )
        if f.src_ports:
            pred = pred & _port_group_predicate(ext["src_port"], f.src_ports)
        if f.dst_ports:
            pred = pred & _port_group_predicate(ext["dst_port"], f.dst_ports)
        if f.proto:
            pred = pred & (ext["proto"] == F.lit(f.proto))
        return pred

    # -- enrichment gates (J1/J2/J4; reference engine.c:1128-1360) -----------

    def _compiled_blacklist(self):
        from sagan_spark.pipeline.enrich import compile_cidrs

        if not hasattr(self, "_bl_ranges"):
            self._bl_ranges = compile_cidrs(self.config.blacklist_cidrs)
        return self._bl_ranges

    def _compiled_geoip(self, codes: list[str]):
        from sagan_spark.pipeline.enrich import compile_cidrs

        # memoized per code tuple like _compiled_blacklist — a 100k-range
        # feed would otherwise re-parse per country_code rule per compile
        key = tuple(codes)
        cache = getattr(self, "_geoip_cache", None)
        if cache is None:
            cache = self._geoip_cache = {}
        if key not in cache:
            sel = [(c, cc) for c, cc in self.config.geoip_ranges if cc.upper() in codes]
            cache[key] = compile_cidrs([c for c, _ in sel], [cc for _, cc in sel])
        return cache[key]

    def enrichment_predicate(self, r: RuleIR, ext: dict[str, Column],
                             cols: EventCols) -> Column:
        """AND of the rule's blacklist / zeek-intel / country gates —
        literal-array probes, fully codegen'd (no join, no shuffle)."""
        from sagan_spark.pipeline.enrich import (
            any_parsed_ip_in_ranges,
            in_ranges,
            in_set,
            substring_set_hit,
        )

        pred = F.lit(True)
        if r.blacklist:
            ranges = self._compiled_blacklist()
            hit = F.lit(False)
            for mode in r.blacklist:
                if mode == "by_src":
                    hit = hit | in_ranges(ext["src_hi"], ext["src_lo"], ranges)
                elif mode == "by_dst":
                    hit = hit | in_ranges(ext["dst_hi"], ext["dst_lo"], ranges)
                elif mode == "all" and cols.ips is not None:
                    hit = hit | any_parsed_ip_in_ranges(cols.ips, ranges)
            pred = pred & hit
        for itype in r.zeek_intel:
            entries = self.config.intel_sets.get(itype, [])
            if itype == "src_ipaddr":
                pred = pred & in_set(ext["src_ip"], entries)
            elif itype == "dst_ipaddr":
                pred = pred & in_set(ext["dst_ip"], entries)
            elif itype == "both_ipaddr":
                pred = pred & in_set(ext["src_ip"], entries) & in_set(ext["dst_ip"], entries)
            elif itype == "all_ipaddr" and cols.ips is not None:
                pred = pred & F.coalesce(
                    F.exists(cols.ips, lambda h: h.getField("ip").isin(entries))
                    if entries else F.lit(False),
                    F.lit(False),
                )
            elif itype == "file_hash":
                hset = F.lit(False)
                for h in ("md5", "sha1", "sha256"):
                    hset = hset | in_set(ext[h], entries, nocase=True)
                pred = pred & hset
            else:  # domain / url / user_name / software / ... substring scan
                pred = pred & substring_set_hit(cols.message, entries)
        if r.bluedot is not None:
            pred = pred & self._bluedot_predicate(r, ext, cols)
        if r.country_code is not None:
            cc = r.country_code
            ranges = self._compiled_geoip(cc.codes)
            hi, lo = (
                (ext["src_hi"], ext["src_lo"])
                if cc.track == "by_src"
                else (ext["dst_hi"], ext["dst_lo"])
            )
            in_cc = in_ranges(hi, lo, ranges)
            pred = pred & (~in_cc if cc.negated else in_cc)
        return pred

    def _bluedot_predicate(self, r: RuleIR, ext: dict[str, Column],
                           cols: EventCols) -> Column:
        """J3 bluedot gate (reference engine probe
        src/processors/engine.c:1176-1289; category compare
        Sagan_Bluedot_Cat_Compare).  The live HTTP cache becomes a static
        snapshot (EngineConfig.bluedot_intel): the category filter runs
        on the DRIVER — each rule reduces to a literal-set membership
        probe over the indicators whose category is in the rule's list,
        fully codegen'd like J2."""
        from sagan_spark.pipeline.enrich import in_set, substring_set_hit

        bd = r.bluedot
        feed = self.config.bluedot_intel.get(bd.btype, {})
        wanted = [ind for ind, cat in feed.items() if cat.lower() in bd.categories]
        if not wanted:
            return F.lit(False)
        if bd.btype == "ip_reputation":
            hit = F.lit(False)
            if bd.track in ("by_src", "both"):
                hit = hit | in_set(ext["src_ip"], wanted)
            if bd.track in ("by_dst", "both"):
                hit = hit | in_set(ext["dst_ip"], wanted)
            if bd.track == "all" and cols.ips is not None:
                hit = hit | F.coalesce(
                    F.exists(cols.ips, lambda h: h.getField("ip").isin(wanted)),
                    F.lit(False),
                )
            elif bd.track == "all":
                hit = hit | in_set(ext["src_ip"], wanted) | in_set(ext["dst_ip"], wanted)
            return hit
        if bd.btype == "file_hash":
            hit = F.lit(False)
            for h in ("md5", "sha1", "sha256"):
                hit = hit | in_set(ext[h], wanted, nocase=True)
            return hit
        # url / filename / ja3: the canonical frame carries no dedicated
        # column — substring scan of the message, like the J2 fallback
        return substring_set_hit(cols.message, wanted)

    # -- alert struct ---------------------------------------------------------

    def match_expr(self, r: RuleIR, cols: EventCols, cheap: Column,
                   ext: dict[str, Column] | None = None,
                   ext_memo: dict | None = None) -> Column:
        """Full per-rule match: cheap AND flow AND enrichment gates."""
        ext = ext if ext is not None else self.extraction_exprs(r, cols, memo=ext_memo)
        match = cheap & self.flow_predicate(r, ext)
        if (
            r.blacklist
            or r.zeek_intel
            or r.bluedot is not None
            or r.country_code is not None
        ):
            match = match & self.enrichment_predicate(r, ext, cols)
        return match

    def alert_element(self, r: RuleIR, cols: EventCols, cheap: Column,
                      ext_memo: dict | None = None) -> Column:
        """when(match, struct<...>) — null when the rule does not match,
        so array_compact+explode materializes extraction fields ONLY for
        matching rules (typically ~1 of N per event, not all N)."""
        ext = self.extraction_exprs(r, cols, memo=ext_memo)
        match = self.match_expr(r, cols, cheap, ext)
        return F.when(match, self.alert_struct_body(r, ext))

    def alert_struct_body(self, r: RuleIR, ext: dict[str, Column]) -> Column:
        track_thr = self.track_key_expr(r.threshold.track, ext) if r.threshold else F.lit("")
        track_aft = self.track_key_expr(r.after.track, ext) if r.after else F.lit("")
        return F.struct(
            F.lit(r.position).alias("rule_idx"),
            F.lit(r.sid).alias("sid"),
            F.lit(r.rev).alias("rev"),
            ext["src_ip"].alias("src_ip"),
            ext["src_port"].cast("int").alias("src_port"),
            ext["dst_ip"].alias("dst_ip"),
            ext["dst_port"].cast("int").alias("dst_port"),
            ext["proto"].cast("int").alias("proto"),
            F.coalesce(ext["username"], F.lit("")).alias("username"),
            F.coalesce(ext["event_id"], F.lit("")).alias("event_id"),
            F.coalesce(ext["md5"], F.lit("")).alias("md5"),
            F.coalesce(ext["sha1"], F.lit("")).alias("sha1"),
            F.coalesce(ext["sha256"], F.lit("")).alias("sha256"),
            track_thr.alias("track_threshold"),
            track_aft.alias("track_after"),
        )

    @staticmethod
    def track_key_expr(track: list[str], ext: dict[str, Column]) -> Column:
        """'src|sport|dst|dport|user' with untracked fields empty/0 —
        byte-identical to the reference's hash_string
        (reference src/threshold.c:111, src/after.c:108)."""
        # coalesce: format_string renders a NULL username as the literal
        # text 'null' — the reference hashes the empty string
        # (threshold.c:111), and 'null' would collide with a real user
        # named "null"
        src = ext["src_ip"] if "by_src" in track else F.lit("")
        dst = ext["dst_ip"] if "by_dst" in track else F.lit("")
        user = (
            F.coalesce(ext["username"], F.lit(""))
            if "by_username" in track
            else F.lit("")
        )
        sport = ext["src_port"].cast("long") if "by_srcport" in track else F.lit(0)
        dport = ext["dst_port"].cast("long") if "by_dstport" in track else F.lit(0)
        return F.format_string("%s|%d|%s|%d|%s", src, sport, dst, dport, user)

    # -- ruleset-level helpers -------------------------------------------------

    def ignore_predicate(self, message: Column) -> Column:
        """F14 ignore-list pre-drop (reference src/ignore.c:31-50):
        drop the line when ANY listed substring occurs."""
        if not self.config.ignore_list:
            return F.lit(False)
        hit = F.lit(False)
        for s in self.config.ignore_list:
            hit = hit | message.contains(F.lit(s))
        return hit
