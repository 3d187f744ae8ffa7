"""Sagan rule-text parser -> RuleIR.

Grammar follows the reference loader (reference src/rules.c:102-4125):

    action proto src_net src_port direction dst_net dst_port ( opt: val; ... )

- ``$VAR`` expansion from a vars dict (Var_To_Value, reference
  src/util.c:744-783).
- ``|3a 3c|`` hex escapes inside content strings (Content_Pipe,
  reference src/util.c:839-912).
- options are ';'-separated outside double quotes; values strip one
  level of surrounding quotes (Between_Quotes, reference src/util.c:391).

This is a brand-new implementation of the grammar, not a translation of
the C loader: it is a small tokenizer + per-option handlers.
"""

from __future__ import annotations

import ipaddress
import re

from sagan_spark.rules.ir import (
    AfterSpec,
    BluedotSpec,
    CidrGroup,
    ContentSpec,
    CountrySpec,
    FlowSpec,
    JsonContentSpec,
    JsonMapSpec,
    JsonMetaContentSpec,
    JsonPcreSpec,
    MetaContentSpec,
    PcreSpec,
    PortGroup,
    RuleIR,
    ThresholdSpec,
    TimeSpec,
    XbitSpec,
)

_PROTO_NUM = {"any": 0, "ip": 0, "icmp": 1, "tcp": 6, "udp": 17}
_TRACK_KEYS = {"by_src", "by_dst", "by_username", "by_srcport", "by_dstport"}

_HEX_PIPE = re.compile(r"\|([0-9a-fA-F\s]+)\|")


def _decode_hex_pipes(s: str) -> str:
    """Snort-style |3a 3c| -> ':<' (reference src/util.c:839-912)."""

    def sub(m: re.Match) -> str:
        return bytes.fromhex(m.group(1).replace(" ", "")).decode("latin-1")

    return _HEX_PIPE.sub(sub, s)


def _expand_vars(s: str, variables: dict[str, str] | None) -> str:
    if not variables:
        return s
    # longest-first so $EXTERNAL_NET wins over a hypothetical $EXTERNAL
    for name in sorted(variables, key=len, reverse=True):
        s = s.replace(f"${name}", variables[name])
    return s


def _split_options(body: str) -> list[str]:
    """Split rule option body on ';' outside double quotes."""
    out: list[str] = []
    cur: list[str] = []
    in_q = False
    prev = ""
    for ch in body:
        if ch == '"' and prev != "\\":
            in_q = not in_q
        if ch == ";" and not in_q:
            tok = "".join(cur).strip()
            if tok:
                out.append(tok)
            cur = []
        else:
            cur.append(ch)
        prev = ch
    tok = "".join(cur).strip()
    if tok:
        out.append(tok)
    return out


def _unquote(s: str) -> str:
    s = s.strip()
    if len(s) >= 2 and s[0] == '"' and s[-1] == '"':
        s = s[1:-1]
    return s.replace('\\"', '"')


def _split_quoted_csv(s: str) -> list[str]:
    """Split on ',' outside double quotes (for json_content "k","v")."""
    out: list[str] = []
    cur: list[str] = []
    in_q = False
    for ch in s:
        if ch == '"':
            in_q = not in_q
            cur.append(ch)
        elif ch == "," and not in_q:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    out.append("".join(cur))
    return out


# IPv4 addresses occupy the ::ffff:0:0/96 v4-mapped slice of the 128-bit
# integer space, mirroring the reference's 16-byte ip_bits representation
# (reference src/sagan.h:395-409, IP2Bit src/util.c).
_V4_MAPPED_BASE = 0xFFFF00000000


def ip_to_int(ip: str) -> int:
    """Map an IP literal into the single 128-bit comparison space."""
    addr = ipaddress.ip_address(ip)
    if addr.version == 4:
        return _V4_MAPPED_BASE + int(addr)
    return int(addr)


def _cidr_to_range(net: str) -> tuple[int, int]:
    if "/" in net:
        n = ipaddress.ip_network(net, strict=False)
        lo, hi = int(n.network_address), int(n.broadcast_address)
        if n.version == 4:
            lo, hi = _V4_MAPPED_BASE + lo, _V4_MAPPED_BASE + hi
        return lo, hi
    v = ip_to_int(net)
    return v, v


def _parse_net_group(spec: str) -> list[CidrGroup]:
    """'any' | '[a,b,!c]' | '10.0.0.0/8' | '!10.0.0.0/8'."""
    spec = spec.strip()
    if spec.lower() == "any":
        return []
    items = [spec]
    if spec.startswith("[") and spec.endswith("]"):
        items = [p.strip() for p in spec[1:-1].split(",") if p.strip()]
    groups = []
    for item in items:
        neg = item.startswith("!")
        lo, hi = _cidr_to_range(item.lstrip("!"))
        groups.append(CidrGroup(lo=lo, hi=hi, negated=neg))
    return groups


def _parse_port_group(spec: str) -> list[PortGroup]:
    """'any' | '22' | '!22' | '1:1024' | '[22,!23,1:1024]'."""
    spec = spec.strip()
    if spec.lower() == "any":
        return []
    items = [spec]
    if spec.startswith("[") and spec.endswith("]"):
        items = [p.strip() for p in spec[1:-1].split(",") if p.strip()]
    groups = []
    for item in items:
        neg = item.startswith("!")
        body = item.lstrip("!")
        if ":" in body:
            lo_s, hi_s = body.split(":", 1)
            lo = int(lo_s) if lo_s else 0
            hi = int(hi_s) if hi_s else 65535
        else:
            lo = hi = int(body)
        groups.append(PortGroup(lo=lo, hi=hi, negated=neg))
    return groups


_PCRE_RE = re.compile(r"^/(?P<pat>.*)/(?P<flags>[ismxAEGR]*)$", re.DOTALL)


def _parse_pcre(val: str) -> tuple[str, str]:
    val = _unquote(val)
    m = _PCRE_RE.match(val)
    if not m:
        raise ValueError(f"bad pcre: {val!r}")
    return m.group("pat"), m.group("flags")


def _value_to_seconds(v: str) -> int:
    """'1h' -> 3600 etc. (reference src/sagan.h:104 Value_To_Seconds)."""
    v = v.strip().lower()
    mult = {"s": 1, "m": 60, "h": 3600, "d": 86400, "w": 604800}
    if v and v[-1] in mult:
        return int(v[:-1]) * mult[v[-1]]
    return int(v)


# options with no match semantics we deliberately accept and ignore
# (normalize is a liblognorm hint; rulebases load via
# functions/lognorm.load_rulebase).  NOTE: `metadata` is NOT here — it
# has a dedicated branch that captures it for the EVE alert record;
# `offload` is not either — it compiles to the remote-classifier gate
# (EngineConfig.offload_poster); and `flowbits` is not either: it
# aliases to flexbits (the pre-rename spelling Sagan's own published
# rules use, identical grammar — doc/source/blogs/sagan-flowbits.rst;
# the current C parser silently DROPS it, rules.c:1382 matches only
# "flexbits", which over-alerts on those rulesets — we evaluate the
# intended gate).
_IGNORABLE_OPTIONS = {"normalize"}


#: one-time-warning latch for the flowbits->flexbits reinterpretation
_WARNED_FLOWBITS = False


def parse_rule(
    text: str,
    variables: dict[str, str] | None = None,
    position: int = 0,
    strict: bool = True,
    flowbits_compat: bool = True,
) -> RuleIR:
    """Parse one rule line into a RuleIR.

    ``strict=True`` (default) raises on unrecognized options instead of
    silently dropping predicates — the reference aborts on malformed
    options too (Sagan_Log(ERROR, ...) exits), and a tolerated unknown
    option on a security rule means silent over-alerting.  With
    ``strict=False`` unknown options are collected in
    ``RuleIR.unknown_options`` (counted, never dropped invisibly).

    ``flowbits_compat=True`` (default) aliases the pre-rename
    ``flowbits`` spelling to flexbits (the grammar Sagan's published
    rules use — doc/source/blogs/sagan-flowbits.rst) and warns ONCE per
    process; the current C parser (rules.c:1382) matches only
    ``flexbits`` and silently drops flowbits, so parity-sensitive
    deployments that tuned against actual reference output can pass
    ``flowbits_compat=False`` to reproduce that drop exactly."""
    text = _expand_vars(text.strip(), variables)
    try:
        lpar = text.index("(")
        rpar = text.rindex(")")
    except ValueError:
        raise ValueError(f"rule has no (options) body: {text[:80]!r}") from None
    header = text[:lpar].split()
    body = text[lpar + 1 : rpar]

    if len(header) < 2:
        raise ValueError(f"bad rule header: {text[:lpar]!r}")
    action = header[0]
    proto = _PROTO_NUM.get(header[1].lower(), 0)

    flow = FlowSpec(proto=proto)
    direction = "->"
    if len(header) >= 7:
        src_net, src_port, direction, dst_net, dst_port = header[2:7]
        if direction == "<-":  # reversed direction flips the header
            src_net, dst_net = dst_net, src_net
            src_port, dst_port = dst_port, src_port
        flow.src_nets = _parse_net_group(src_net)
        flow.src_ports = _parse_port_group(src_port)
        flow.dst_nets = _parse_net_group(dst_net)
        flow.dst_ports = _parse_port_group(dst_port)

    ir = RuleIR(sid=0, action=action, flow=flow, position=position)

    last_content: ContentSpec | None = None
    last_meta: MetaContentSpec | None = None

    for opt in _split_options(body):
        if ":" in opt:
            key, _, val = opt.partition(":")
        else:
            key, val = opt, ""
        key = key.strip().lower()
        val = val.strip()

        if key == "msg":
            ir.msg = _unquote(val)
        elif key == "sid":
            ir.sid = int(val)
        elif key == "rev":
            ir.rev = int(val)
        elif key == "classtype":
            ir.classtype = val
        elif key in ("priority", "pri"):  # both spellings, rules.c:2720
            ir.priority = int(val)
        elif key == "reference":
            ir.reference.append(val)
        elif key in ("program", "event_type"):  # aliases, rules.c:2596
            ir.programs = [p for p in _unquote(val).split("|") if p]
        elif key in ("facility", "syslog_facility"):  # rules.c:2680
            ir.facilities = [p for p in _unquote(val).split("|") if p]
        elif key in ("level", "syslog_level"):  # rules.c:2693
            ir.levels = [p for p in _unquote(val).split("|") if p]
        elif key in ("tag", "syslog_tag"):  # rules.c:2651
            ir.tags = [p for p in _unquote(val).split("|") if p]
        elif key == "syslog_priority":  # rules.c:2706
            ir.syslog_priorities = [p for p in _unquote(val).split("|") if p]
        elif key == "content":
            neg = val.startswith("!")
            lit = _decode_hex_pipes(_unquote(val.lstrip("!").strip()))
            last_content = ContentSpec(literal=lit, negated=neg)
            last_meta = None
            ir.contents.append(last_content)
        elif key == "nocase":
            if last_meta is not None:
                last_meta.nocase = True
                last_meta.literals = [x.lower() for x in last_meta.literals]
            elif last_content is not None:
                last_content.nocase = True
                # reference lowercases the needle at load (rules.c:2830-2836)
                last_content.literal = last_content.literal.lower()
        elif key in ("offset", "depth", "distance", "within"):
            tgt = last_meta if last_meta is not None else last_content
            if tgt is None:
                raise ValueError(f"{key} with no preceding content")
            setattr(tgt, key if key != "offset" else "offset", int(val))
        elif key == "meta_offset":
            assert last_meta is not None
            last_meta.offset = int(val)
        elif key == "meta_depth":
            assert last_meta is not None
            last_meta.depth = int(val)
        elif key == "meta_distance":
            assert last_meta is not None
            last_meta.distance = int(val)
        elif key == "meta_within":
            assert last_meta is not None
            last_meta.within = int(val)
        elif key == "meta_nocase":
            assert last_meta is not None
            last_meta.nocase = True
            last_meta.literals = [x.lower() for x in last_meta.literals]
        elif key == "pcre":
            pat, flags = _parse_pcre(val)
            ir.pcres.append(PcreSpec(pattern=pat, flags=flags))
        elif key == "meta_content":
            # meta_content: "tmpl with %sagan%", $LIST  (vars pre-expanded)
            parts = _split_quoted_csv(val)
            neg = parts[0].strip().startswith("!")
            tmpl = _decode_hex_pipes(_unquote(parts[0].strip().lstrip("!")))
            items = [i.strip() for i in ",".join(parts[1:]).split(",") if i.strip()]
            lits = [tmpl.replace("%sagan%", it) for it in items]
            last_meta = MetaContentSpec(literals=lits, negated=neg)
            last_content = None
            ir.meta_contents.append(last_meta)
        elif key in ("json_content", "json_strstr"):
            parts = _split_quoted_csv(val)
            k = _unquote(parts[0])
            neg = parts[1].strip().startswith("!")
            v = _unquote(parts[1].strip().lstrip("!"))
            ir.json_contents.append(
                JsonContentSpec(key=k, value=v, negated=neg, strstr=(key == "json_strstr"))
            )
        elif key == "json_nocase":
            if ir.json_contents:
                jc = ir.json_contents[-1]
                jc.nocase = True
                jc.value = jc.value.lower()
        elif key == "json_contains":
            # flag modifier: previous json_content compares via strstr
            # instead of strcmp (reference src/rules.c:2222-2234)
            if ir.json_contents:
                ir.json_contents[-1].strstr = True
        elif key in ("json_meta_contains", "json_meta_strstr"):
            # flag modifier: previous json_meta_content literals compare
            # via strstr instead of strcmp (reference src/rules.c:2285-2295;
            # json_meta_strstr appears in VALID_RULE_OPTIONS src/rules.h:25
            # with no handler of its own — accepted as the same modifier)
            if ir.json_meta_contents:
                ir.json_meta_contents[-1].strstr = True
        elif key == "json_meta_content":
            # json_meta_content: "key", "tmpl with %sagan%", item list
            parts = _split_quoted_csv(val)
            k = _unquote(parts[0])
            neg = parts[1].strip().startswith("!")
            tmpl = _decode_hex_pipes(_unquote(parts[1].strip().lstrip("!")))
            items = [i.strip() for i in ",".join(parts[2:]).split(",") if i.strip()]
            ir.json_meta_contents.append(
                JsonMetaContentSpec(
                    key=k, literals=[tmpl.replace("%sagan%", it) for it in items], negated=neg
                )
            )
        elif key == "json_meta_nocase":
            if ir.json_meta_contents:
                jm = ir.json_meta_contents[-1]
                jm.nocase = True
                jm.literals = [x.lower() for x in jm.literals]
        elif key == "json_decode_base64":
            ir.json_decode_base64 = True
        elif key == "json_decode_base64_pcre":
            ir.json_decode_base64_pcre = True
        elif key == "json_decode_base64_meta":
            ir.json_decode_base64_meta = True
        elif key == "json_pcre":
            parts = _split_quoted_csv(val)
            k = _unquote(parts[0])
            pat, flags = _parse_pcre(parts[1].strip())
            ir.json_pcres.append(JsonPcreSpec(key=k, pattern=pat, flags=flags))
        elif key == "json_map":
            parts = _split_quoted_csv(val)
            ir.json_maps.append(
                JsonMapSpec(field=_unquote(parts[0]).lower(), key=_unquote(parts[1]))
            )
        elif key == "event_id":
            ir.event_ids = [e.strip() for e in _unquote(val).split("|") if e.strip()]
        elif key == "parse_src_ip":
            ir.parse_src_ip_pos = int(val)
        elif key == "parse_dst_ip":
            ir.parse_dst_ip_pos = int(val)
        elif key == "parse_hash":
            ir.parse_hash = val.lower()
        elif key == "parse_port":
            ir.parse_port = True
        elif key == "parse_proto":
            ir.parse_proto = True
        elif key == "parse_proto_program":
            ir.parse_proto_program = True
        elif key == "default_proto":
            ir.default_proto = _PROTO_NUM.get(val.lower(), 0)
        elif key == "default_src_port":
            ir.default_src_port = int(val)
        elif key == "default_dst_port":
            ir.default_dst_port = int(val)
        elif key == "append_program":
            ir.append_program = True
        elif key == "threshold":
            spec = _parse_kv_list(val)
            ir.threshold = ThresholdSpec(
                ttype=spec.get("type", "suppress"),
                track=_parse_track(spec.get("track", "by_src")),
                count=int(spec.get("count", "1")),
                seconds=_value_to_seconds(spec.get("seconds", "0")),
            )
        elif key == "after":
            spec = _parse_kv_list(val)
            ir.after = AfterSpec(
                track=_parse_track(spec.get("track", "by_src")),
                count=int(spec.get("count", "1")),
                seconds=_value_to_seconds(spec.get("seconds", "0")),
            )
        elif key in ("xbits", "xbit"):
            parts = [p.strip() for p in val.split(",")]
            if parts[0].lower() in ("noalert", "noeve"):
                # per-sink suppression flags, not bit ops (reference
                # src/rules.c:1180-1192: xbit_noalert suppresses only
                # the alert-file sink, xbit_noeve only EVE —
                # output.c:88-99)
                ir.flags.append(f"xbit_{parts[0].lower()}")
                continue
            spec = {"action": parts[0].lower()}
            for p in parts[1:]:
                kk, _, vv = p.partition(" ")
                spec[kk.strip().lower()] = vv.strip()
            ir.xbits.append(
                XbitSpec(
                    action=spec["action"],
                    name=spec.get("name", ""),
                    track=spec.get("track", "ip_src").replace("by_src", "ip_src").replace("by_dst", "ip_dst"),
                    expire=_value_to_seconds(spec.get("expire", "0")) if spec.get("expire") else 0,
                )
            )
        elif key in ("flexbits", "flexbit", "flowbits"):
            if key == "flowbits":
                if not flowbits_compat:
                    # reference behavior: rules.c:1382 matches only
                    # "flexbits" — a flowbits option is silently dropped
                    continue
                global _WARNED_FLOWBITS
                if not _WARNED_FLOWBITS:
                    _WARNED_FLOWBITS = True
                    import warnings

                    warnings.warn(
                        "'flowbits' reinterpreted as flexbits (the reference "
                        "C parser silently drops it — rules.c:1382); pass "
                        "flowbits_compat=False for reference-exact parity",
                        stacklevel=2,
                    )
            # positional grammar (reference doc/source/rule-keywords.rst:297-336):
            #   flexbits: set, {name}[, {expire seconds}]
            #   flexbits: unset|isset|isnotset, {by_src|by_dst|both|reverse|none|username}, {name}
            #   flexbits: noalert|noeve
            parts = [p.strip() for p in val.split(",")]
            action = parts[0].lower()
            if action in ("noalert", "noeve"):
                ir.flags.append(action)
            elif action == "set":
                ir.xbits.append(
                    XbitSpec(
                        action="set",
                        name=parts[1],
                        track="flex_auto",  # key shape decided by the conditions
                        expire=_value_to_seconds(parts[2]) if len(parts) > 2 else 0,
                    )
                )
            else:
                track = parts[1].lower() if len(parts) > 2 else "by_src"
                name = parts[2] if len(parts) > 2 else parts[1]
                ir.xbits.append(
                    XbitSpec(action=action, name=name, track=f"flex_{track}")
                )
        elif key == "alert_time":
            spec = _parse_kv_list(val)
            days = {int(c) for c in spec.get("days", "0123456")}
            hours = spec.get("hours", "0000-2359")
            start_s, _, end_s = hours.partition("-")
            ir.alert_time = TimeSpec(days=days, start=int(start_s), end=int(end_s))
        elif key == "blacklist":
            # blacklist: by_src | by_dst | both | all  (reference
            # src/rules.c blacklist option; probe engine.c:1147-1174)
            modes = [m.strip().lower() for m in val.split(",") if m.strip()]
            out = []
            for m in modes:
                out.extend(["by_src", "by_dst"] if m == "both" else [m])
            ir.blacklist = out
        elif key in ("zeek_intel", "zeek-intel", "bro-intel"):
            ir.zeek_intel = [m.strip().lower() for m in val.split(",") if m.strip()]
        elif key == "country_code":
            # country_code: track by_src, isnot [RU,CN]  (the code list
            # itself contains commas, so no generic kv-split here)
            mtrack = re.search(r"track\s+(by_src|by_dst)", val)
            mcmp = re.search(r"\b(isnot|is)\s+(.+)$", val)
            codes_s = mcmp.group(2) if mcmp else ""
            codes = [c.strip().upper() for c in codes_s.strip("[] ").split(",") if c.strip()]
            ir.country_code = CountrySpec(
                track=mtrack.group(1) if mtrack else "by_src",
                codes=codes,
                negated=bool(mcmp and mcmp.group(1) == "isnot"),
            )
        elif key == "dynamic_load":
            ir.dynamic_load = _unquote(val)
        elif key == "external":
            # K6: route this rule's alerts to the external program
            # (reference src/rules.c:3680-3705; the stat/X_OK checks are
            # deploy-time concerns — the sink validates at run time)
            prog = _unquote(val)
            if not prog:
                raise ValueError("external option with no program")
            ir.external_program = prog
        elif key == "offload":
            # remote HTTP classifier gate (reference src/rules.c:3709-3725
            # aborts when the location is missing)
            loc = _unquote(val)
            if not loc:
                raise ValueError(
                    "offload option with no location (reference rules.c:3718 aborts)"
                )
            ir.offload = loc
        elif key == "email":
            ir.email = _unquote(val)  # reference src/rules.c:2735
        elif key == "flexbits_pause":
            ir.flexbit_pause = int(val)  # reference src/rules.c:1008-1018
        elif key == "flexbits_upause":
            ir.flexbit_upause = int(val)  # reference src/rules.c:984-994
        elif key == "xbits_pause":
            ir.xbit_pause = int(val)  # reference src/rules.c:1020-1030
        elif key == "xbits_upause":
            ir.xbit_upause = int(val)  # reference src/rules.c:996-1006
        elif key == "bluedot":
            ir.bluedot = _parse_bluedot(val)
        elif key == "metadata":
            ir.metadata = val  # routing metadata, emitted in EVE
        elif key in _IGNORABLE_OPTIONS:
            pass  # no match semantics (see _IGNORABLE_OPTIONS)
        elif strict:
            raise ValueError(
                f"unknown rule option {key!r} (sid hint: {ir.sid or '?'}); "
                "pass strict=False to collect instead of abort"
            )
        else:
            ir.unknown_options.append(key)

    if ir.sid == 0:
        raise ValueError(f"rule missing sid: {text[:80]!r}")
    ir.raw = text  # signature_copy (reference src/rules.c:364)
    return ir


def _parse_bluedot(val: str) -> BluedotSpec:
    """``type ip_reputation, track by_src, mdate_effective_period 1 month,
    cat1&cat2`` / ``type file_hash|url|filename|ja3, cats`` (reference
    src/rules.c:3742-3965).  Categories split on '&' per
    Sagan_Verify_Categories."""
    parts = [p.strip() for p in val.split(",")]
    if not parts or "type" not in parts[0]:
        raise ValueError(f"bluedot option missing 'type': {val!r}")
    tspec = parts[0]
    spec = BluedotSpec(btype="")
    for bt in ("ip_reputation", "file_hash", "filename", "url", "ja3"):
        if bt in tspec:
            spec.btype = bt
            break
    if not spec.btype:
        raise ValueError(f"bluedot type not recognized: {val!r}")
    rest = parts[1:]
    if spec.btype == "ip_reputation":
        if not rest or "track" not in rest[0]:
            raise ValueError(f"bluedot ip_reputation missing track: {val!r}")
        # reference checks by_src/by_dst before both/all via substring
        for t in ("by_src", "by_dst", "both", "all"):
            if t in rest[0]:
                spec.track = t
                break
        rest = rest[1:]
        if rest and ("effective_period" in rest[0] or rest[0] == "none"):
            period = rest[0]
            rest = rest[1:]
            if period != "none":
                # '<name> N unit' -> seconds (Value_To_Seconds analog)
                toks = period.split()
                unit = {"second": 1, "minute": 60, "hour": 3600, "day": 86400,
                        "week": 604800, "month": 2592000, "year": 31536000}
                n = int(toks[1]) if len(toks) > 1 else 0
                u = toks[2].rstrip("s") if len(toks) > 2 else "second"
                secs = n * unit.get(u, 1)
                if "mdate" in period:
                    spec.mdate_period = secs
                else:
                    spec.cdate_period = secs
    cats = ",".join(rest)
    spec.categories = [c.strip().lower() for c in cats.replace("&", ",").split(",") if c.strip()]
    if not spec.categories:
        raise ValueError(f"bluedot option has no categories: {val!r}")
    return spec


def _parse_kv_list(val: str) -> dict[str, str]:
    """'type limit, track by_src, count 3, seconds 120' -> dict."""
    out: dict[str, str] = {}
    for part in val.split(","):
        part = part.strip()
        if not part:
            continue
        k, _, v = part.partition(" ")
        out[k.strip().lower()] = v.strip()
    return out


def _parse_track(spec: str) -> list[str]:
    """'by_src&by_dst' -> ['by_src','by_dst'] (reference src/rules.c:3415-3451)."""
    keys = [k.strip() for k in spec.split("&") if k.strip()]
    for k in keys:
        if k not in _TRACK_KEYS:
            raise ValueError(f"bad track key {k!r}")
    return keys


def parse_rules(
    text: str,
    variables: dict[str, str] | None = None,
    strict: bool = True,
    flowbits_compat: bool = True,
) -> list[RuleIR]:
    """Parse a whole ruleset file body; '#' comments and blanks skipped."""
    rules: list[RuleIR] = []
    for raw in text.splitlines():
        line = raw.strip()
        if not line or line.startswith("#"):
            continue
        rules.append(
            parse_rule(
                line,
                variables,
                position=len(rules),
                strict=strict,
                flowbits_compat=flowbits_compat,
            )
        )
    return rules


def load_vars(path) -> dict[str, str]:
    """Read a ``vars.conf`` file (``KEY=value`` lines; '#' comments and
    blanks skipped) into the ``variables`` map :func:`parse_rules`
    expands — the spark-submit twin of the reference's sagan.yaml
    ``vars`` block (src/config-yaml.c)."""
    variables: dict[str, str] = {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line and not line.startswith("#") and "=" in line:
                k, _, v = line.partition("=")
                variables[k.strip()] = v.strip()
    return variables
