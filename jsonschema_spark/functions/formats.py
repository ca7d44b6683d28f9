"""`format` checkers as vectorized Column predicates.

Mirrors /root/reference/jsonschema/_format.py: a registry of per-format
checks; non-strings always pass (handled by the compiler's static type
gate); **unknown formats always pass** (_format.py:133-134).  The
reference gates each check on an optional dependency import
(_format.py:266,287,396,...); our analogue is that every format below is
expressible natively (regex / try_to_date) or with a stdlib-backed pandas
UDF, so nothing is gated in this environment.

Register custom formats with :func:`register_format` — the analogue of
``FormatChecker.checks`` (_format.py:58-85).
"""

from __future__ import annotations

from typing import Callable, Optional

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

FormatFn = Callable[[Column], Column]

_REGISTRY: dict[str, FormatFn] = {}


def register_format(name: str, fn: FormatFn) -> None:
    _REGISTRY[name] = fn


def format_predicate(col: Column, name: str) -> Optional[Column]:
    """Predicate for format `name`, or None when unknown (always passes)."""
    fn = _REGISTRY.get(name)
    return fn(col) if fn is not None else None


# --- native (regex / builtin) formats --------------------------------------

_IPV4 = (r"\A((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}"
         r"(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\z")

_UUID = (r"\A[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-"
         r"[0-9a-fA-F]{4}-[0-9a-fA-F]{12}\z")

_HOSTNAME = (r"\A(?=.{1,253}\z)[A-Za-z0-9]([A-Za-z0-9-]{0,61}[A-Za-z0-9])?"
             r"(\.[A-Za-z0-9]([A-Za-z0-9-]{0,61}[A-Za-z0-9])?)*\z")

_TIME_BODY = r"([01][0-9]|2[0-3]):[0-5][0-9]:([0-5][0-9]|60)(\.[0-9]+)?"
_TZ = r"([Zz]|[+-]([01][0-9]|2[0-3]):[0-5][0-9])"
_DATE_BODY = r"[0-9]{4}-[0-9]{2}-[0-9]{2}"

# RFC 3339 appendix-A duration ABNF: components CHAIN (dur-year includes
# an optional dur-month which includes an optional dur-day — so P1Y2D is
# invalid), no fractional seconds, T requires a time component
_DUR_TIME = (r"T(?:[0-9]+H(?:[0-9]+M(?:[0-9]+S)?)?"
             r"|[0-9]+M(?:[0-9]+S)?|[0-9]+S)")
_DUR_DATE = (r"(?:[0-9]+D|[0-9]+M(?:[0-9]+D)?"
             r"|[0-9]+Y(?:[0-9]+M(?:[0-9]+D)?)?)")
_DURATION = (rf"\AP(?:{_DUR_DATE}(?:{_DUR_TIME})?"
             rf"|{_DUR_TIME}|[0-9]+W)\z")

_JSON_POINTER = r"\A(/([^/~]|~[01])*)*\z"
_REL_JSON_POINTER = r"\A(0|[1-9][0-9]*)(#|(/([^/~]|~[01])*)*)\z"


def _email_regex(extra_atext: str = "") -> str:
    """RFC 5321 practical grammar: dot-atom or quoted-string local part,
    hostname / bracketed IPv4 / IPv6 address-literal domain.  Stricter
    than the reference's ``"@" in instance`` (_format.py:235-240) — the
    suite's optional email tests expect the real grammar."""
    atext = r"A-Za-z0-9!#$%&'*+/=?^_`{|}~\-" + extra_atext
    dot_atom = rf"[{atext}]+(?:\.[{atext}]+)*"
    quoted = r"\"(?:[^\"\\]|\\.)*\""
    local = rf"(?:{dot_atom}|{quoted})"
    ld = r"A-Za-z0-9" + extra_atext
    label = rf"[{ld}](?:[{ld}\-]{{0,61}}[{ld}])?"
    ipv4 = (r"((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}"
            r"(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])")
    domain = (rf"(?:{label}(?:\.{label})*"
              rf"|\[{ipv4}\]|\[IPv6:[0-9A-Fa-f:.]+\])")
    return rf"\A{local}@{domain}\z"


_EMAIL_RX = _email_regex()
#: non-ASCII allowed; lone UTF-16 surrogates (U+D800-DFFF), U+FFFD (the
#: replacement char transport substitutes for broken surrogates) and
#: the U+FFFE/FFFF noncharacters excluded
_IDN_EMAIL_RX = _email_regex(
    r"\x{00A0}-\x{D7FF}\x{E000}-\x{FFFC}\x{10000}-\x{10FFFD}")


def _email(c: Column) -> Column:
    return c.rlike(_EMAIL_RX)


def _idn_email(c: Column) -> Column:
    return c.rlike(_IDN_EMAIL_RX)


def _date(c: Column) -> Column:
    # regex + real-calendar check (_format.py:19,423-433)
    return (c.rlike(f"\\A{_DATE_BODY}\\z")
            & F.try_to_timestamp(c, F.lit("yyyy-MM-dd")).isNotNull())


def _date_time(c: Column) -> Column:
    # RFC 3339 (rfc3339_validator semantics, _format.py:396-413): structural
    # regex (incl. leap-second :60) + calendar validity of the date part.
    rx = f"\\A{_DATE_BODY}[Tt ]{_TIME_BODY}{_TZ}\\z"
    return (c.rlike(rx)
            & F.try_to_timestamp(F.substring(c, 1, 10), F.lit("yyyy-MM-dd")).isNotNull())


def _time(c: Column) -> Column:
    return c.rlike(f"\\A{_TIME_BODY}{_TZ}\\z")


def _ipv6(c: Column) -> Column:
    # stdlib `ipaddress` via Arrow batch; scope-ids rejected like the
    # reference (_format.py:258-263).
    @F.pandas_udf("boolean")
    def _check(s: pd.Series) -> pd.Series:
        import ipaddress

        def ok(v):
            if v is None or "%" in v:
                return False
            try:
                ipaddress.IPv6Address(v)
                return True
            except ValueError:
                return False
        return s.map(ok).astype("boolean")
    return _check(c)


def _regex_fmt(c: Column) -> Column:
    # `re.compile` succeeds (_format.py:416-420)
    @F.pandas_udf("boolean")
    def _check(s: pd.Series) -> pd.Series:
        import re

        def ok(v):
            if v is None:
                return False
            try:
                re.compile(v)
                return True
            except re.error:
                return False
        return s.map(ok).astype("boolean")
    return _check(c)


def _rfc3986_regexes(extra: str = "") -> tuple[str, str]:
    """Full RFC 3986 URI / URI-reference grammar as Java regexes
    (evaluated JVM-side via rlike — no UDF).  `extra` widens the
    unreserved set (RFC 3987 ucschar for IRIs).  The reference's
    checkers wrap rfc3986-validator / rfc3987 (_format.py:305-350);
    this is the same published ABNF, with the IP-literal body reduced
    to its character set (IPv6 digit-group counting is the one
    simplification; the `ipv6` format does full validation)."""
    ur = r"A-Za-z0-9\-._~" + extra
    pct = r"%[0-9A-Fa-f]{2}"
    sub = r"!$&'()*+,;="
    pchar = f"(?:[{ur}{sub}:@]|{pct})"
    userinfo = f"(?:[{ur}{sub}:]|{pct})*"
    regname = f"(?:[{ur}{sub}]|{pct})*"
    ip_literal = r"\[(?:[0-9A-Fa-f:.]+|[vV][0-9A-Fa-f]+\.[\S&&[^\]]]+)\]"
    host = f"(?:{ip_literal}|{regname})"
    authority = f"(?:{userinfo}@)?{host}(?::[0-9]*)?"
    seg = f"{pchar}*"
    seg_nz = f"{pchar}+"
    seg_nz_nc = f"(?:[{ur}{sub}@]|{pct})+"     # no colon (RFC 3986 §3.3)
    p_abempty = f"(?:/{seg})*"
    p_absolute = f"/(?:{seg_nz}(?:/{seg})*)?"
    p_rootless = f"{seg_nz}(?:/{seg})*"
    p_noscheme = f"{seg_nz_nc}(?:/{seg})*"
    hier = f"(?://{authority}{p_abempty}|{p_absolute}|{p_rootless})?"
    rel = f"(?://{authority}{p_abempty}|{p_absolute}|{p_noscheme})?"
    query = f"(?:[{ur}{sub}:@/?]|{pct})*"
    scheme = r"[A-Za-z][A-Za-z0-9+.\-]*"
    uri = f"\\A{scheme}:{hier}(?:\\?{query})?(?:#{query})?\\z"
    uriref = (f"\\A(?:{scheme}:{hier}|{rel})"
              f"(?:\\?{query})?(?:#{query})?\\z")
    return uri, uriref


_URI_RX, _URI_REF_RX = _rfc3986_regexes()
#: RFC 3987 ucschar (approximated as all non-ASCII above U+00A0)
_IRI_RX, _IRI_REF_RX = _rfc3986_regexes(r"\x{00A0}-\x{10FFFD}")


def _uri(c: Column) -> Column:
    return c.rlike(_URI_RX)


def _uri_reference(c: Column) -> Column:
    return c.rlike(_URI_REF_RX)


_CSS21_COLORS = ("aqua black blue fuchsia gray green lime maroon navy "
                 "olive orange purple red silver teal white yellow").split()


def _color(c: Column) -> Column:
    # CSS2.1 names + #hex (webcolors semantics, _format.py:443-453);
    # \A/\z anchors — Java's $ matches before a trailing newline
    return c.isin(*_CSS21_COLORS) | c.rlike(r"\A#[0-9a-fA-F]{3}\z") \
        | c.rlike(r"\A#[0-9a-fA-F]{6}\z")


_URI_TEMPLATE = (r"\A([^\x00-\x20\x7f\"'%<>\\^`{|}]|%[0-9A-Fa-f]{2}|"
                 r"\{[+#./;?&=,!@|]?((\w|%[0-9A-Fa-f]{2})(\.?(\w|"
                 r"%[0-9A-Fa-f]{2}))*(:[1-9][0-9]{0,3}|\*)?)(,((\w|"
                 r"%[0-9A-Fa-f]{2})(\.?(\w|%[0-9A-Fa-f]{2}))*"
                 r"(:[1-9][0-9]{0,3}|\*)?))*\})*\z")


def _iri(c: Column) -> Column:
    # RFC 3987: URI grammar with ucschar widened unreserved set
    return c.rlike(_IRI_RX)


def _idn_hostname(c: Column) -> Column:
    # the idna package (IDNA2008 + contextual rules) via Arrow batch —
    # the same library the reference wraps (_format.py:287-301); falls
    # back to the stdlib IDNA2003 codec if it's ever absent
    @F.pandas_udf("boolean")
    def _check(s: pd.Series) -> pd.Series:
        try:
            import idna as _idna

            def ok(v):
                if v is None or not v:
                    return False
                try:
                    _idna.encode(v)
                    return True
                except (_idna.IDNAError, UnicodeError):
                    return False
        except ImportError:                       # pragma: no cover
            def ok(v):
                if v is None or not v:
                    return False
                try:
                    v.encode("idna")
                    return True
                except UnicodeError:
                    return False
        return s.map(ok).astype("boolean")
    return _check(c)


register_format("color", _color)
register_format("uri-template", lambda c: c.rlike(_URI_TEMPLATE))
register_format("iri", _iri)
register_format("iri-reference", lambda c: c.rlike(_IRI_REF_RX))
register_format("idn-hostname", _idn_hostname)
register_format("email", _email)
register_format("idn-email", _idn_email)
register_format("ipv4", lambda c: c.rlike(_IPV4))
register_format("ip-address", lambda c: c.rlike(_IPV4))  # draft3 name
register_format("ipv6", _ipv6)
register_format("hostname", lambda c: c.rlike(_HOSTNAME))
register_format("host-name", lambda c: c.rlike(_HOSTNAME))
register_format("uuid", lambda c: c.rlike(_UUID))
register_format("date", _date)
register_format("date-time", _date_time)
register_format("time", _time)
register_format("duration", lambda c: c.rlike(_DURATION))
register_format("json-pointer", lambda c: c.rlike(_JSON_POINTER))
register_format("relative-json-pointer", lambda c: c.rlike(_REL_JSON_POINTER))
register_format("regex", _regex_fmt)
register_format("uri", _uri)
register_format("uri-reference", _uri_reference)
