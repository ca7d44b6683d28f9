"""`format` checkers as vectorized SQL predicates.

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

from typing import Any, Callable, Optional

import pandas as pd

from ..compiler import sql as F
from ..compiler.sql import Expr

_REGISTRY: dict[str, Callable[[Expr], Expr]] = {}


def register_format(name: str, fn: Callable[[Any], Any]) -> None:
    """Assert format `name` with `fn(Column) -> Column`: `fn` gets the
    bound string as a PySpark Column, and its result is brought into
    the compiled text as the SQL of its expression."""
    _REGISTRY[name] = lambda e: F.from_column(fn(F.column(e)))


def format_predicate(col: Expr, name: str) -> Optional[Expr]:
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


def _email(c: Expr) -> Expr:
    return c.rlike(_EMAIL_RX)


def _idn_email(c: Expr) -> Expr:
    return c.rlike(_IDN_EMAIL_RX)


def _date(c: Expr) -> Expr:
    # regex + real-calendar check (_format.py:19,423-433)
    return (c.rlike(f"\\A{_DATE_BODY}\\z")
            & F.try_to_timestamp(c, F.lit("yyyy-MM-dd")).isNotNull())


def _date_time(c: Expr) -> Expr:
    # RFC 3339 (rfc3339_validator semantics, _format.py:396-413): structural
    # regex (incl. leap-second :60) + calendar validity of the date part.
    rx = f"\\A{_DATE_BODY}[Tt ]{_TIME_BODY}{_TZ}\\z"
    return (c.rlike(rx)
            & F.try_to_timestamp(F.substring(c, 1, 10), F.lit("yyyy-MM-dd")).isNotNull())


def _time(c: Expr) -> Expr:
    return c.rlike(f"\\A{_TIME_BODY}{_TZ}\\z")


def _udf_format(name: str, ok: Callable[[str], bool]) -> None:
    """Register format `name` as the pandas UDF mapping `ok` over the
    non-NULL strings (NULL fails), called as ``_jss_fmt_<name>``."""
    def build():
        from pyspark.sql import functions as PF

        @PF.pandas_udf("boolean")
        def _check(s: pd.Series) -> pd.Series:
            return s.map(lambda v: v is not None and ok(v)).astype("boolean")
        return _check

    fn = "_jss_fmt_" + name.replace("-", "_")
    _REGISTRY[name] = lambda c: F.udf_call(fn, build, c)


def _ipv6_ok(v: str) -> bool:
    # stdlib `ipaddress`; scope-ids rejected like the reference
    # (_format.py:258-263)
    import ipaddress
    if "%" in v:
        return False
    try:
        ipaddress.IPv6Address(v)
        return True
    except ValueError:
        return False


def _regex_ok(v: str) -> bool:
    # `re.compile` succeeds (_format.py:416-420)
    import re
    try:
        re.compile(v)
        return True
    except re.error:
        return False


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


def _uri(c: Expr) -> Expr:
    return c.rlike(_URI_RX)


def _uri_reference(c: Expr) -> Expr:
    return c.rlike(_URI_REF_RX)


_CSS21_COLORS = ("aqua black blue fuchsia gray green lime maroon navy "
                 "olive orange purple red silver teal white yellow").split()


def _color(c: Expr) -> Expr:
    # CSS2.1 names + #hex (webcolors semantics, _format.py:443-453);
    # \A/\z anchors — Java's $ matches before a trailing newline
    return c.isin(*_CSS21_COLORS) | c.rlike(r"\A#[0-9a-fA-F]{3}\z") \
        | c.rlike(r"\A#[0-9a-fA-F]{6}\z")


_URI_TEMPLATE = (r"\A([^\x00-\x20\x7f\"'%<>\\^`{|}]|%[0-9A-Fa-f]{2}|"
                 r"\{[+#./;?&=,!@|]?((\w|%[0-9A-Fa-f]{2})(\.?(\w|"
                 r"%[0-9A-Fa-f]{2}))*(:[1-9][0-9]{0,3}|\*)?)(,((\w|"
                 r"%[0-9A-Fa-f]{2})(\.?(\w|%[0-9A-Fa-f]{2}))*"
                 r"(:[1-9][0-9]{0,3}|\*)?))*\})*\z")


def _iri(c: Expr) -> Expr:
    # RFC 3987: URI grammar with ucschar widened unreserved set
    return c.rlike(_IRI_RX)


def _idn_hostname_ok(v: str) -> bool:
    # the idna package (IDNA2008 + contextual rules) — the same library
    # the reference wraps (_format.py:287-301); falls back to the stdlib
    # IDNA2003 codec if it's ever absent
    if not v:
        return False
    try:
        import idna as _idna
    except ImportError:                       # pragma: no cover
        try:
            v.encode("idna")
            return True
        except UnicodeError:
            return False
    try:
        _idna.encode(v)
        return True
    except (_idna.IDNAError, UnicodeError):
        return False


_REGISTRY.update({
    "color": _color,
    "uri-template": lambda c: c.rlike(_URI_TEMPLATE),
    "iri": _iri,
    "iri-reference": lambda c: c.rlike(_IRI_REF_RX),
    "email": _email,
    "idn-email": _idn_email,
    "ipv4": lambda c: c.rlike(_IPV4),
    "ip-address": lambda c: c.rlike(_IPV4),  # draft3 name
    "hostname": lambda c: c.rlike(_HOSTNAME),
    "host-name": lambda c: c.rlike(_HOSTNAME),
    "uuid": lambda c: c.rlike(_UUID),
    "date": _date,
    "date-time": _date_time,
    "time": _time,
    "duration": lambda c: c.rlike(_DURATION),
    "json-pointer": lambda c: c.rlike(_JSON_POINTER),
    "relative-json-pointer": lambda c: c.rlike(_REL_JSON_POINTER),
    "uri": _uri,
    "uri-reference": _uri_reference,
})
_udf_format("ipv6", _ipv6_ok)
_udf_format("regex", _regex_ok)
_udf_format("idn-hostname", _idn_hostname_ok)
