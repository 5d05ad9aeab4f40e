"""``format`` keyword sub-validators.

Reference surface: the 20 named formats of
`/root/reference/src/main/java/com/qindesign/json/schema/keywords/Format.java:239-403`
(regex tables at 54-122, RFC 3339 date logic at 269-311, URI/hostname
parsers under `net/`).

Spark-first strategy (SURVEY.md §2.2):
- regex-expressible formats → ``Column.rlike`` (JVM-side, codegen,
  zero Python in the hot path);
- `date`/`date-time` → regex **plus** `try_to_date`-style real
  month/day/leap-year check (Spark's CORRECTED parser rejects Feb 30);
- grammar-heavy formats (`uri`, `iri`, `ipv6`, `uri-template`,
  `idn-hostname`, `regex`) → **vectorized Arrow pandas UDFs** with the
  validator precompiled in the closure — never per-row Python UDFs
  (BASELINE.json input_hint).

Every validator has signature ``(col: Column) -> Column`` returning a
null-safe boolean (null input → True: format vacuously passes on
non-strings / missing values, matching `Format.java:249-254`).
"""

from __future__ import annotations

import ipaddress
import re
from collections.abc import Callable

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from .ecma_regex import is_valid_ecma
from .joining_types import joining_type

# --------------------------------------------------------------------------
# RFC 3339 component regexes (mirroring Format.java:54-90 semantics)
# --------------------------------------------------------------------------

_FULL_DATE = r"[0-9]{4}-(?:0[1-9]|1[0-2])-(?:0[1-9]|[12][0-9]|3[01])"
# time-hour:minute:second with optional fraction; leap second :60 allowed
_PARTIAL_TIME = r"(?:[01][0-9]|2[0-3]):[0-5][0-9]:(?:[0-5][0-9]|60)(?:\.[0-9]+)?"
_TIME_OFFSET = r"(?:[Zz]|[+-](?:[01][0-9]|2[0-3]):[0-5][0-9])"
_FULL_TIME = _PARTIAL_TIME + _TIME_OFFSET
_DATE_TIME = _FULL_DATE + r"[Tt]" + _FULL_TIME

# RFC 3339 Appendix A duration (Format.java:75-90)
_DUR_SECOND = r"[0-9]+S"
_DUR_MINUTE = rf"[0-9]+M(?:{_DUR_SECOND})?"
_DUR_HOUR = rf"[0-9]+H(?:{_DUR_MINUTE})?"
_DUR_TIME = rf"T(?:{_DUR_HOUR}|{_DUR_MINUTE}|{_DUR_SECOND})"
_DUR_DAY = r"[0-9]+D"
_DUR_WEEK = r"[0-9]+W"
_DUR_MONTH = rf"[0-9]+M(?:{_DUR_DAY})?"
_DUR_YEAR = rf"[0-9]+Y(?:{_DUR_MONTH})?"
_DUR_DATE = rf"(?:{_DUR_DAY}|{_DUR_MONTH}|{_DUR_YEAR})(?:{_DUR_TIME})?"
_DURATION = rf"P(?:{_DUR_DATE}|{_DUR_TIME}|{_DUR_WEEK})"

# pragmatic email (Format.java:92-96): dot-atom local part, no leading/
# trailing/double dots, then hostname-ish domain
_EMAIL = (
    r"[A-Za-z0-9!#$%&'*+/=?^_`{|}~-]+(?:\.[A-Za-z0-9!#$%&'*+/=?^_`{|}~-]+)*"
    r"@[A-Za-z0-9](?:[A-Za-z0-9-]{0,61}[A-Za-z0-9])?"
    r"(?:\.[A-Za-z0-9](?:[A-Za-z0-9-]{0,61}[A-Za-z0-9])?)*"
)
# idn-email: same shape but allow non-ASCII word chars
_IDN_EMAIL = r"[^@\s.]+(?:\.[^@\s.]+)*@[^@\s.]+(?:\.[^@\s.]+)*"

# RFC 1123 hostname (net/Hostname.java:74-183 semantics): labels of
# 1-63 alnum/hyphen chars, no leading/trailing hyphen, total <= 253
_HOSTNAME = (
    r"(?=.{1,253}\z)"
    r"[A-Za-z0-9](?:[A-Za-z0-9-]{0,61}[A-Za-z0-9])?"
    r"(?:\.[A-Za-z0-9](?:[A-Za-z0-9-]{0,61}[A-Za-z0-9])?)*"
)

_IPV4 = r"(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])(?:\.(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])){3}"

_UUID = r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}"

_JSON_POINTER = r"(?:/(?:[^/~]|~[01])*)*"
_REL_JSON_POINTER = rf"(?:0|[1-9][0-9]*)(?:#|{_JSON_POINTER})"


def _anchored(pattern: str) -> str:
    return r"\A(?:" + pattern + r")\z"


def _rlike_format(pattern: str) -> Callable[[Column], Column]:
    full = _anchored(pattern)

    def check(col: Column) -> Column:
        return F.coalesce(col.rlike(full), F.lit(True))

    return check


# --------------------------------------------------------------------------
# date / date-time: regex + real calendar check (Format.java:269-300)
# --------------------------------------------------------------------------


def _check_full_date(col: Column) -> Column:
    # CORRECTED parser: to_date returns null for Feb 30 / Apr 31 etc.
    ok = col.rlike(_anchored(_FULL_DATE)) & F.try_to_timestamp(
        col, F.lit("yyyy-MM-dd")
    ).isNotNull()
    return F.coalesce(ok, F.lit(False)) | col.isNull()


def _check_date_time(col: Column) -> Column:
    date_part = F.substring(col, 1, 10)
    ok = (
        col.rlike(_anchored(_DATE_TIME))
        & F.try_to_timestamp(date_part, F.lit("yyyy-MM-dd")).isNotNull()
    )
    return F.coalesce(ok, F.lit(False)) | col.isNull()


# --------------------------------------------------------------------------
# pandas-UDF-backed validators (Arrow-vectorized; closure precompiles)
# --------------------------------------------------------------------------


def _vectorize(fn: Callable[[str], bool]) -> Callable[[Column], Column]:
    """Wrap a str->bool predicate as an Arrow-batched pandas UDF column.

    Null-safe: null → True (vacuous pass)."""

    def batch(s: pd.Series) -> pd.Series:
        return s.map(lambda v: True if v is None else bool(fn(v)))

    udf = F.pandas_udf(batch, BooleanType())

    def check(col: Column) -> Column:
        return F.coalesce(udf(col), F.lit(True))

    return check


def _is_ipv6(v: str) -> bool:
    if "%" in v:  # zone ids not allowed by RFC 3986 host grammar
        return False
    try:
        ipaddress.IPv6Address(v)
        return True
    except ValueError:
        return False


# ---- RFC 3986 URI validator (Python-side; mirrors net/URI.java semantics,
# fresh implementation from the RFC grammar) --------------------------------

_PCT = r"%[0-9A-Fa-f]{2}"
_UNRESERVED = r"[A-Za-z0-9\-._~]"
_SUB_DELIMS = r"[!$&'()*+,;=]"
_PCHAR = rf"(?:{_UNRESERVED}|{_PCT}|{_SUB_DELIMS}|[:@])"
_SEGMENT_RE = re.compile(rf"\A(?:{_PCHAR})*\Z")
_QUERY_RE = re.compile(rf"\A(?:{_PCHAR}|[/?])*\Z")
_USERINFO_RE = re.compile(rf"\A(?:{_UNRESERVED}|{_PCT}|{_SUB_DELIMS}|:)*\Z")
_REG_NAME_RE = re.compile(rf"\A(?:{_UNRESERVED}|{_PCT}|{_SUB_DELIMS})*\Z")


def _valid_host(host: str) -> bool:
    if host.startswith("[") and host.endswith("]"):
        inner = host[1:-1]
        if inner.startswith(("v", "V")):  # IPvFuture
            return bool(re.match(r"\A[vV][0-9A-Fa-f]+\.[A-Za-z0-9\-._~!$&'()*+,;=:]+\Z", inner))
        return _is_ipv6(inner)
    return bool(_REG_NAME_RE.match(host))


def _valid_authority(auth: str) -> bool:
    if "@" in auth:
        userinfo, _, hostport = auth.partition("@")
        if not _USERINFO_RE.match(userinfo):
            return False
    else:
        hostport = auth
    # split port: last ':' outside brackets
    if hostport.startswith("["):
        end = hostport.find("]")
        if end < 0:
            return False
        host, rest = hostport[: end + 1], hostport[end + 1 :]
        if rest and not re.match(r"\A:[0-9]*\Z", rest):
            return False
    else:
        host, sep, port = hostport.rpartition(":")
        if sep:
            if not re.match(r"\A[0-9]*\Z", port):
                return False
        else:
            host = hostport
    return _valid_host(host)


def _valid_path(path: str, *, allow_colon_first: bool) -> bool:
    if path == "":
        return True
    for i, seg in enumerate(path.split("/")):
        if not _SEGMENT_RE.match(seg):
            return False
        if i == 0 and not allow_colon_first and ":" in seg and not path.startswith("/"):
            return False
    return True


def _is_uri_reference(v: str, *, require_absolute: bool) -> bool:
    """RFC 3986 URI / relative-ref validity (net/URIParser.java semantics)."""
    base, _, frag = v.partition("#")
    if "#" in frag:
        return False
    if frag and not _QUERY_RE.match(frag):
        return False
    base, qsep, query = base.partition("?")
    if qsep and not _QUERY_RE.match(query):
        return False
    scheme = None
    rest = base
    m = re.match(r"\A([A-Za-z][A-Za-z0-9+.-]*):", base)
    if m:
        scheme = m.group(1)
        rest = base[m.end() :]
    if require_absolute and scheme is None:
        return False
    if rest.startswith("//"):
        authority, slash, path = rest[2:].partition("/")
        if not _valid_authority(authority):
            return False
        return _valid_path(slash + path, allow_colon_first=True)
    # no authority: path may not start with '//'; in a relative ref the
    # first segment may not contain ':' (it would parse as a scheme)
    if rest.startswith("//"):
        return False
    return _valid_path(rest, allow_colon_first=scheme is not None)


def _iri_to_uri(v: str) -> str:
    """Percent-encode non-ASCII (Format.java:166-200 mapping)."""
    out = []
    for ch in v:
        if ord(ch) < 0x80:
            out.append(ch)
        else:
            out.append("".join(f"%{b:02X}" for b in ch.encode("utf-8")))
    return "".join(out)


def _is_uri_template(v: str) -> bool:
    """RFC 6570 scanner (Format.java:209-237 semantics, fresh code)."""
    lit_ok = re.compile(
        r"\A(?:[\x21\x23-\x24\x26\x28-\x3B\x3D\x3F-\x5B\x5D\x5F\x61-\x7A\x7E"
        r"\u00A0-\uD7FF\uE000-\uFFFD]|%[0-9A-Fa-f]{2})*\Z",
        re.UNICODE,
    )
    varspec = re.compile(
        r"\A(?:[A-Za-z0-9_]|%[0-9A-Fa-f]{2})(?:\.?(?:[A-Za-z0-9_]|%[0-9A-Fa-f]{2}))*"
        r"(?::[1-9][0-9]{0,3}|\*)?\Z"
    )
    i, n = 0, len(v)
    while i < n:
        j = v.find("{", i)
        if j < 0:
            return bool(lit_ok.match(v[i:]))
        if not lit_ok.match(v[i:j]):
            return False
        k = v.find("}", j)
        if k < 0:
            return False
        expr = v[j + 1 : k]
        if expr and expr[0] in "+#./;?&=,!@|":
            if expr[0] in "=,!@|":  # reserved operators are illegal
                return False
            expr = expr[1:]
        if not expr:
            return False
        for spec in expr.split(","):
            if not varspec.match(spec):
                return False
        i = k + 1
    return True


def _idn_label_ok(label: str) -> bool:
    """RFC 5891 §4.2.3 label checks for the no-idna fallback path:
    length, hyphen placement (§4.2.3.1 — no '--' in positions 3-4
    except a decodable A-label), no leading combining mark (§4.2.3.2),
    and A-label (xn--) punycode decode + re-encode roundtrip."""
    import unicodedata

    if not label:
        return False
    if label.startswith("-") or label.endswith("-"):
        return False
    if any(ch.isspace() or ch in "\x00/\\@#?" for ch in label):
        return False
    # leading combining mark (Mn/Mc/Me) is disallowed
    if unicodedata.category(label[0]) in ("Mn", "Mc", "Me"):
        return False
    lower = label.lower()
    if lower.startswith("xn--"):
        # A-label: must be pure ASCII, ≤63 octets, and decode to a
        # non-ASCII U-label that itself passes the label rules and
        # re-encodes to the same ACE form (roundtrip)
        if len(label) > 63 or not label.isascii():
            return False
        try:
            decoded = lower[4:].encode("ascii").decode("punycode")
        except (UnicodeError, UnicodeDecodeError):
            return False
        if not decoded or decoded.isascii():
            return False
        try:
            if decoded.encode("punycode").decode("ascii").lower() != lower[4:]:
                return False
        except UnicodeError:
            return False
        return _idn_label_ok(decoded)
    # hyphen-34 rule: '--' in the 3rd and 4th position is reserved for
    # A-labels only
    if len(label) >= 4 and label[2:4] == "--":
        return False
    if len(label.encode("utf-8", "ignore")) > 63:
        return False
    return True


def _idn_u_label(label: str) -> str:
    """Decoded U-label form (xn-- labels punycode-decoded; callers run
    this only after _idn_label_ok proved the decode succeeds)."""
    lower = label.lower()
    if lower.startswith("xn--"):
        return lower[4:].encode("ascii").decode("punycode")
    return label


def _idn_context_ok(label: str) -> bool:
    """RFC 5892 Appendix A contextual rules (CONTEXTJ + CONTEXTO) on a
    U-label, the analog of ICU's UTS-46 contextual checks
    (net/Hostname.java:87-206). Implemented from unicodedata:

    - A.1 ZWNJ: preceded by Virama (ccc 9), or the exact join-context
      regex (Joining_Type:{L,D})(T)*ZWNJ(T)*(Joining_Type:{R,D}) over
      the packed Unicode Joining_Type table in joining_types.py
    - A.2 ZWJ: preceded by Virama
    - A.3 middle dot U+00B7: between two U+006C 'l'
    - A.4 Greek keraia U+0375: followed by a Greek-script char
    - A.5/A.6 Hebrew geresh/gershayim: preceded by a Hebrew-script char
    - A.7 katakana middle dot U+30FB: label contains Hiragana/Katakana/Han
    - A.8/A.9 Arabic-Indic vs extended Arabic-Indic digits never mix
    """
    import unicodedata

    def is_virama(ch: str) -> bool:
        return unicodedata.combining(ch) == 9

    def name_has(ch: str, *words: str) -> bool:
        nm = unicodedata.name(ch, "")
        return any(nm.startswith(w) or (" " + w) in nm for w in words)

    has_arabic_digit = any("٠" <= ch <= "٩" for ch in label)
    has_ext_arabic_digit = any("۰" <= ch <= "۹" for ch in label)
    if has_arabic_digit and has_ext_arabic_digit:
        return False

    for i, ch in enumerate(label):
        if ch in ("‌", "‍"):
            if i > 0 and is_virama(label[i - 1]):
                continue
            if ch == "‍":
                return False
            # RFC 5892 A.1 exact join-context regex:
            # (Joining_Type:{L,D}) (T)* ZWNJ (T)* (Joining_Type:{R,D})
            j = i - 1
            while j >= 0 and joining_type(label[j]) == "T":
                j -= 1
            k = i + 1
            while k < len(label) and joining_type(label[k]) == "T":
                k += 1
            if j < 0 or k >= len(label):
                return False
            if joining_type(label[j]) not in ("L", "D"):
                return False
            if joining_type(label[k]) not in ("R", "D"):
                return False
        elif ch == "·":
            if i == 0 or i == len(label) - 1:
                return False
            if label[i - 1] != "l" or label[i + 1] != "l":
                return False
        elif ch == "͵":
            if i == len(label) - 1 or not name_has(label[i + 1], "GREEK"):
                return False
        elif ch in ("׳", "״"):
            if i == 0 or not name_has(label[i - 1], "HEBREW"):
                return False
        elif ch == "・":
            if not any(
                name_has(c, "HIRAGANA", "KATAKANA", "CJK") for c in label if c != ch
            ):
                return False
    return True


def _idn_bidi_ok(u_labels: list) -> bool:
    """RFC 5893 Bidi rule: if any label contains an RTL char the whole
    name is a Bidi domain name and EVERY label must satisfy the
    six-part rule (first char L/R/AL; direction-consistent body;
    direction-consistent final char modulo NSM; no EN+AN mixing in RTL
    labels)."""
    import unicodedata

    def classes(label: str) -> list:
        return [unicodedata.bidirectional(ch) or "ON" for ch in label]

    all_classes = [classes(lb) for lb in u_labels if lb]
    if not any(
        c in ("R", "AL", "AN") for cls in all_classes for c in cls
    ):
        return True
    for cls in all_classes:
        first = cls[0]
        if first in ("R", "AL"):
            allowed = {"R", "AL", "AN", "EN", "ES", "CS", "ET", "ON", "BN", "NSM"}
            finals = {"R", "AL", "AN", "EN"}
            if "EN" in cls and "AN" in cls:
                return False
        elif first == "L":
            allowed = {"L", "EN", "ES", "CS", "ET", "ON", "BN", "NSM"}
            finals = {"L", "EN"}
        else:
            return False
        if any(c not in allowed for c in cls):
            return False
        tail = [c for c in cls if c != "NSM"]
        if not tail or tail[-1] not in finals:
            return False
    return True


def _is_idn_hostname(v: str) -> bool:
    """IDN hostname check.

    The reference uses ICU4J A-label/U-label rules
    (net/Hostname.java:87-206). The `idna` package is the Python
    equivalent; without it the fallback enforces the RFC 5891 label
    rules (length, hyphen-34, leading-combining-mark, xn-- punycode
    roundtrip) plus the RFC 5892 CONTEXTO/CONTEXTJ rules (ZWNJ via the
    exact Joining_Type table in joining_types.py) and the RFC 5893
    Bidi rule on decoded U-labels."""
    try:
        import idna  # type: ignore

        try:
            idna.encode(v, uts46=True)
            return True
        except idna.IDNAError:
            return False
    except ImportError:
        pass
    if not v or len(v.encode("utf-8", "ignore")) > 253:
        return False
    labels = v.split(".")
    if not all(_idn_label_ok(label) for label in labels):
        return False
    u_labels = [_idn_u_label(label) for label in labels]
    if not all(_idn_context_ok(u) for u in u_labels):
        return False
    return _idn_bidi_ok(u_labels)


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------


def _registry() -> dict[str, Callable[[Column], Column]]:
    return {
        "date-time": _check_date_time,
        "date": _check_full_date,
        "full-date": _check_full_date,
        "time": _rlike_format(_FULL_TIME),
        "full-time": _rlike_format(_FULL_TIME),
        "duration": _rlike_format(_DURATION),
        "email": _rlike_format(_EMAIL),
        "idn-email": _rlike_format(_IDN_EMAIL),
        "hostname": _rlike_format(_HOSTNAME),
        "idn-hostname": _vectorize(_is_idn_hostname),
        "ipv4": _rlike_format(_IPV4),
        "ipv6": _vectorize(_is_ipv6),
        "uri": _vectorize(lambda v: _is_uri_reference(v, require_absolute=True)),
        "uri-reference": _vectorize(lambda v: _is_uri_reference(v, require_absolute=False)),
        "iri": _vectorize(lambda v: _is_uri_reference(_iri_to_uri(v), require_absolute=True)),
        "iri-reference": _vectorize(
            lambda v: _is_uri_reference(_iri_to_uri(v), require_absolute=False)
        ),
        "uuid": _rlike_format(_UUID),
        "uri-template": _vectorize(_is_uri_template),
        "json-pointer": _rlike_format(_JSON_POINTER),
        "relative-json-pointer": _rlike_format(_REL_JSON_POINTER),
        "regex": _vectorize(is_valid_ecma),
    }


FORMATS: dict[str, Callable[[Column], Column]] = _registry()


def format_check(name: str, col: Column) -> Column | None:
    """Return the validity Column for ``format: name``, or None when the
    format is unknown (unknown formats pass, Format.java:260-264)."""
    fn = FORMATS.get(name)
    if fn is None:
        return None
    return fn(col)
