"""URI-template compiler (reference operators P10-P12).

The reference fills RFC-6570-style ``{var}`` templates per connection
(lib/URIStrategy.js:63-123) with a tiny resolver expression language
(lib/URIStrategy.js:125-167): property paths rooted at
``connection|trips|routes|stops``, ``format(path,'date-pattern')`` and
``path.substring(a[,b])``; anything else must raise (tested at
test/URIStrategy.test.js:61-69).

Spark-first design: a template is compiled ONCE into a single JVM
Column expression (concat of literals and percent-encoded parts) — no
Python runs per row, so URI construction stays inside whole-stage
codegen. Percent-encoding matches RFC 6570 simple expansion
(= urllib.parse.quote(safe='')) via url_encode + fixups.

Column layout contract (produced by pipeline.rules_to_connections):
trip attrs -> ``trip_<attr>`` (+ ``trip_start_ts`` timestamp), route
attrs -> ``route_<attr>``, departure/arrival stop attrs ->
``dep_<attr>`` / ``arr_<attr>``, connection timestamps ->
``departure_ts`` / ``arrival_ts``.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import FEED_TIMEZONE_DEFAULT

# the column layout contract above; a standalone stop template
# ({stops.*}) resolves against the departure stop
TRIP_PREFIX = "trip_"
ROUTE_PREFIX = "route_"
DEP_STOP_PREFIX = "dep_"
ARR_STOP_PREFIX = "arr_"
DEPARTURE_TS = "departure_ts"
ARRIVAL_TS = "arrival_ts"
TRIP_START_TS = "trip_start_ts"

# multi-feed namespacing of the defaults: one corpus, many feeds ->
# URIs must not collide across feeds ({feed} = lineage feed_id)
FEED_SCOPED_BASE_URIS: dict = {
    "stop": "http://example.org/{feed}/stops/{stops.stop_id}",
    "route": "http://example.org/{feed}/routes/{routes.route_id}",
    "trip": "http://example.org/{feed}/trips/{trips.trip_id}/{trips.startTime(yyyyMMdd)}",
    "connection": "http://example.org/{feed}/connections/{trips.startTime(yyyyMMdd)}/{depStop}/{trips.trip_id}",
    "resolve": {"depStop": "connection.departureStop.stop_id"},
}

# reference defaults: lib/URIStrategy.js:10-19
DEFAULT_BASE_URIS: dict = {
    "stop": "http://example.org/stops/{stops.stop_id}",
    "route": "http://example.org/routes/{routes.route_id}",
    "trip": "http://example.org/trips/{trips.trip_id}/{trips.startTime(yyyyMMdd)}",
    "connection": "http://example.org/connections/{trips.startTime(yyyyMMdd)}/{depStop}/{trips.trip_id}",
    "resolve": {"depStop": "connection.departureStop.stop_id"},
}

# date-fns tokens used by gtfs2lc templates that map 1:1 onto Java
# DateTimeFormatter tokens (lib/URIStrategy.js:92-96,105-111 only ever
# passes these through `format()`).
_SAFE_DATE_TOKENS = re.compile(r"^[yMdHmsS'T:_\-/\. ]+$")

_VAR_RE = re.compile(r"\{([^{}]+)\}")


class TemplateError(TypeError):
    """Unsupported resolver expression (reference throws TypeError,
    lib/URIStrategy.js:153-156)."""


def percent_encode(col: Column) -> Column:
    """RFC 3986 percent-encoding of all non-unreserved chars, JVM-side.

    java.net.URLEncoder (F.url_encode) differs from RFC 6570 simple
    expansion in exactly three ways; fix each: ' '->'+' (must be %20),
    '*' kept (must be %2A), '~'->%7E (must stay '~').

    (r6 note: a skip-encoding fast path — when(rlike unreserved-only,
    col).otherwise(enc) — was A/B-measured NEUTRAL at the 21.6M-quad
    headline, best 4.49 s vs 4.48 s interleaved in one session: the
    regex scan costs what the four allocations cost. Not kept; see
    OPTIMIZATION_r06.md.)
    """
    enc = F.url_encode(col)
    enc = F.replace(enc, F.lit("+"), F.lit("%20"))
    enc = F.replace(enc, F.lit("*"), F.lit("%2A"))
    enc = F.replace(enc, F.lit("%7E"), F.lit("~"))
    return enc


def _local_fmt(ts_col: str, pattern: str, feed_tz: str) -> Column:
    """date-fns format() renders in the process-local timezone —
    i.e. the feed timezone (SURVEY.md §1.5)."""
    if not _SAFE_DATE_TOKENS.match(pattern):
        raise TemplateError(f"Unsupported date pattern: {pattern}")
    return F.date_format(F.from_utc_timestamp(F.col(ts_col), feed_tz), pattern)


_PATH_RE = re.compile(r"^(connection|trips|routes|stops)((?:\.[A-Za-z_$][\w$]*)+)$")
_FORMAT_RE = re.compile(
    r"^format\(((?:connection|trips|routes|stops)(?:\.[A-Za-z_$][\w$]*)+),\s*(['\"])(.*?)\2\)$"
)
_SUBSTR_RE = re.compile(
    r"^((?:connection|trips|routes|stops)(?:\.[A-Za-z_$][\w$]*)+)\.substring\((\d+)(?:,\s*(\d+))?\)$"
)


# date-valued paths -> timestamp columns, for format() and the inline
# {trips.startTime(pattern)} form
_TS_PATH_COLUMNS = {
    "connection.departureTime": DEPARTURE_TS,
    "connection.arrivalTime": ARRIVAL_TS,
    "trips.startTime": TRIP_START_TS,
}

_TS_ATTR_COLUMNS = {
    "startTime": TRIP_START_TS,
    "departureTime": DEPARTURE_TS,
    "arrivalTime": ARRIVAL_TS,
}


def _resolve_path(path: str, stop_prefix: str | None) -> Column:
    """Property-path resolution (lib/URIStrategy.js:158-167), as a Column."""
    m = _PATH_RE.match(path)
    if not m:
        raise TemplateError(f"Unsupported base URI resolver expression: {path}")
    root, rest = m.group(1), m.group(2).lstrip(".").split(".")
    if root == "trips":
        return F.col(TRIP_PREFIX + rest[0])
    if root == "routes":
        return F.col(ROUTE_PREFIX + rest[0])
    if root == "stops":
        return F.col((stop_prefix or DEP_STOP_PREFIX) + rest[0])
    # root == connection
    attr = rest[0]
    if attr == "departureStop":
        sub = rest[1] if len(rest) > 1 else "stop_id"
        return F.col(DEP_STOP_PREFIX + sub)
    if attr == "arrivalStop":
        sub = rest[1] if len(rest) > 1 else "stop_id"
        return F.col(ARR_STOP_PREFIX + sub)
    if attr == "departureTime":
        return F.col(DEPARTURE_TS)
    if attr == "arrivalTime":
        return F.col(ARRIVAL_TS)
    return F.col(attr)


def compile_resolver(
    expression: str, feed_tz: str, stop_prefix: str | None = None
) -> Column:
    """Resolver mini-language -> Column (lib/URIStrategy.js:125-156).

    Supports: property path | format(path,'pattern') | path.substring(a[,b]).
    Anything else raises TemplateError, matching the reference's rejection
    of executable expressions. ``format()`` renders in ``feed_tz``.
    """
    normalized = re.sub(r";$", "", expression.strip())
    m = _FORMAT_RE.match(normalized)
    if m:
        path, pattern = m.group(1), m.group(3)
        ts = _TS_PATH_COLUMNS.get(path)
        if ts is not None:
            return _local_fmt(ts, pattern, feed_tz)
        raise TemplateError(f"format() over non-date path: {path}")
    m = _SUBSTR_RE.match(normalized)
    if m:
        base = _resolve_path(m.group(1), stop_prefix)
        start = int(m.group(2))
        if m.group(3) is not None:
            return F.substring(base, start + 1, int(m.group(3)) - start)
        return F.substring(base, start + 1, 2**31 - 1)
    if _PATH_RE.match(normalized):
        return _resolve_path(normalized, stop_prefix)
    raise TemplateError(f"Unsupported base URI resolver expression: {expression}")


def _resolve_var(
    name: str, feed_tz: str, resolve: dict, stop_prefix: str | None
) -> Column:
    """One template variable -> Column (lib/URIStrategy.js:74-123).

    Extension beyond the reference (which is single-feed per run):
    ``{feed}`` resolves to the lineage feed_id column so multi-feed
    corpora can namespace their URIs and avoid cross-feed collisions.
    """
    if name in resolve:
        return compile_resolver(resolve[name], feed_tz, stop_prefix)
    if name == "feed":
        return F.col("feed_id")
    source, _, attr = name.partition(".")
    # inline date patterns: {trips.startTime(yyyyMMdd)} etc.
    m = re.match(r"^(startTime|departureTime|arrivalTime)\((.*)\)$", attr)
    if m:
        which, pattern = m.group(1), m.group(2)
        if source not in ("trips", "connection"):
            # reference resolveValue: unknown source -> null -> '' fill
            return F.lit(None).cast("string")
        return _local_fmt(_TS_ATTR_COLUMNS[which], pattern, feed_tz)
    if _PATH_RE.match(name):
        return _resolve_path(name, stop_prefix)
    # Reference parity (resolveValue, lib/URIStrategy.js:74-123): a bare
    # template variable with no resolver entry and no recognized source
    # yields null, and uri-templates fills it as '' — so a PARTIAL
    # baseUris config (e.g. only a stop template, no 'resolve' key)
    # keeps converting with empty segments instead of crashing. Invalid
    # RESOLVER EXPRESSIONS still raise (compile_resolver above), same
    # as the reference's executable-expression rejection.
    return F.lit(None).cast("string")


def compile_template(
    template: str,
    feed_tz: str,
    resolve: dict | None = None,
    stop_prefix: str | None = None,
) -> Column:
    """Compile a full URI template into one Column expression.

    Literal spans stay literal; each ``{var}`` becomes a
    percent-encoded resolved Column. Null/missing values render as ''
    (uri-templates fills undefined as empty). Dates render in ``feed_tz``.
    """
    resolve = resolve or {}
    parts: list[Column] = []
    pos = 0
    for m in _VAR_RE.finditer(template):
        if m.start() > pos:
            parts.append(F.lit(template[pos : m.start()]))
        val = _resolve_var(m.group(1), feed_tz, resolve, stop_prefix)
        parts.append(percent_encode(F.coalesce(val.cast("string"), F.lit(""))))
        pos = m.end()
    if pos < len(template):
        parts.append(F.lit(template[pos:]))
    return F.concat(*parts) if parts else F.lit("")


class URIStrategy:
    """Compiled URI strategy over a connections DataFrame
    (reference: lib/URIStrategy.js; defaults reproduced verbatim)."""

    def __init__(self, base_uris: dict | None = None, feed_tz: str = FEED_TIMEZONE_DEFAULT):
        merged = dict(DEFAULT_BASE_URIS)
        if base_uris:
            for k in ("stop", "route", "trip", "connection"):
                if isinstance(base_uris.get(k), str):
                    merged[k] = base_uris[k]
            merged["resolve"] = base_uris.get("resolve", {})
        self.base_uris = merged
        self.feed_tz = feed_tz

    def connection_id(self) -> Column:
        return compile_template(
            self.base_uris["connection"], self.feed_tz, self.base_uris.get("resolve")
        )

    def stop_id(self, prefix: str) -> Column:
        return compile_template(
            self.base_uris["stop"], self.feed_tz, self.base_uris.get("resolve"), stop_prefix=prefix
        )

    def trip_id(self) -> Column:
        return compile_template(
            self.base_uris["trip"], self.feed_tz, self.base_uris.get("resolve")
        )

    def route_id(self) -> Column:
        return compile_template(
            self.base_uris["route"], self.feed_tz, self.base_uris.get("resolve")
        )
