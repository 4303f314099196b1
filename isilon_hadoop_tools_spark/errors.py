"""Error-row algebra (SURVEY §2.11, P3/P4, F10).

The reference implements a small relational algebra over REST error
documents ``{"errors": [{"message": str}, ...]}``: extraction with
shape validation (``onefs.py:297-315``), predicate filtering
(``onefs.py:317-321``), and 15 equality matchers over formatted
message strings (``onefs.py:323-478``, formats ``:256-287``). The
engine re-expresses all of it as column expressions:

- :func:`classify_body` — one CASE expression mapping a raw body to
  ``undecodable`` / ``malformed`` / ``ok`` (the reference's
  ``UndecodableAPIError`` / ``MalformedAPIError`` taxonomy,
  ``onefs.py:244-250,297-315``; the 10 malformation cases of
  ``tests/conftest.py:424-533`` are the unit-test fixture).
- :func:`parse_messages` — ``from_json`` + ``explode`` of the valid
  rows (P3's filtered iteration, vectorized).
- :data:`FORMATS` + :func:`matcher` / :func:`first_match` — the 15
  equality predicates (P4), byte-identical format strings.
- :func:`is_transient` — the retry classifier behind the reference's
  ``accesses_onefs`` infinite-retry decorator (``onefs.py:566-596``);
  in the engine a transient row is *data* routed back into the retry
  queue, not an exception.

Note: a present-but-JSON-null ``message`` classifies as ``malformed``
here; the reference only distinguishes a *missing* key (KeyError) and
none of its tested malformation cases carry an explicit null message.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from isilon_hadoop_tools_spark import IsilonHadoopToolsSparkError


class ErrorAlgebraError(IsilonHadoopToolsSparkError):
    """Root of the error-algebra taxonomy (``onefs.py:218-250``)."""


class MalformedErrorBody(ErrorAlgebraError):
    """Decodable JSON with an invalid shape (``MalformedAPIError``)."""


class UndecodableErrorBody(MalformedErrorBody):
    """Body is not JSON at all (``UndecodableAPIError``); subclass of
    malformed, mirroring the reference hierarchy (``onefs.py:244-250``)."""


ERRORS_SCHEMA = "STRUCT<errors: ARRAY<STRUCT<message: STRING>>>"

VALID = "ok"
MALFORMED = "malformed"
UNDECODABLE = "undecodable"

# Byte-identical to the reference's formats (``onefs.py:256-287``) —
# message parity is what makes the predicates portable. ``{0}``/``{1}``
# placeholders as in the reference; rendered with format_string(%s).
FORMATS: dict[str, str] = {
    "gid_already_exists": "Group already exists with gid '{0}'",
    "group_already_exists": "Group '{0}' already exists",
    "group_not_found": "Failed to find group for 'GROUP:{0}': No such group",
    "group_unresolvable": "Could not resolve group {0}",
    "license_expired": (
        "The evaluation license key for {0} has expired."
        " Please contact your Isilon representative."
    ),
    "license_missing": (
        "The {0} application is not currently installed."
        " Please contact your Isilon account team for"
        " more information on evaluating and purchasing {0}."
    ),
    "proxy_user_already_exists": "Proxyuser '{0}' already exists",
    "try_again": "OneFS API is temporarily unavailable. Try your request again.",
    "uid_already_exists": "User already exists with uid '{0}'",
    "user_already_exists": "User '{0}' already exists",
    "user_already_in_group": (
        "Failed to add member UID:{0} to group GROUP:{1}:"
        " User is already in local group"
    ),
    "user_not_found": "Failed to find user for 'USER:{0}': No such user",
    "user_unresolvable": "Could not resolve user {0}",
    "zone_not_found": 'Access Zone "{0}" not found.',
    "dir_path_already_exists": (
        "Unable to create directory as requested -- container already exists"
    ),
}

# Which context column(s) each matcher interpolates (in order).
MATCHER_PARAMS: dict[str, tuple[str, ...]] = {
    "gid_already_exists": ("gid",),
    "group_already_exists": ("group_name",),
    "group_not_found": ("group_name",),
    "group_unresolvable": ("group_name",),
    "license_expired": ("license_name",),
    "license_missing": ("license_name", "license_name"),
    "proxy_user_already_exists": ("proxy_name",),
    "try_again": (),
    "uid_already_exists": ("uid",),
    "user_already_exists": ("user_name",),
    "user_already_in_group": ("uid", "group_name"),
    "user_not_found": ("user_name",),
    "user_unresolvable": ("user_name",),
    "zone_not_found": ("zone_name",),
    "dir_path_already_exists": (),
}


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def classify_body(body: Column | str) -> Column:
    """``undecodable`` | ``malformed`` | ``ok`` for a raw body string.

    undecodable: NULL or not JSON (``json.loads`` raising,
    ``onefs.py:300-305``); malformed: JSON whose shape breaks
    ``json_body["errors"][i]["message"]`` access
    (``onefs.py:306-314``); ok otherwise (an empty errors array is
    valid, as in the reference).
    """
    b = _c(body)
    parsed = F.from_json(b, ERRORS_SCHEMA)
    bad_element = F.exists(
        parsed["errors"], lambda e: e["message"].isNull()
    )
    return (
        F.when(b.isNull() | F.try_parse_json(b).isNull(), F.lit(UNDECODABLE))
        .when(parsed.isNull() | parsed["errors"].isNull(), F.lit(MALFORMED))
        .when(bad_element, F.lit(MALFORMED))
        .otherwise(F.lit(VALID))
    )


def parse_messages(df: DataFrame, body_col: str = "body") -> DataFrame:
    """Explode the messages of valid bodies: one output row per error
    message, all other columns carried through (P3, vectorized)."""
    valid = df.filter(classify_body(body_col) == VALID)
    parsed = F.from_json(F.col(body_col), ERRORS_SCHEMA)
    return valid.select(
        *df.columns, F.explode(parsed["errors"]["message"]).alias("message")
    )


def rendered(kind: str, context: dict[str, Column | str]) -> Column:
    """The exact message the reference would format for ``kind``."""
    fmt = FORMATS[kind]
    params = MATCHER_PARAMS[kind]
    printf = fmt.replace("%", "%%")
    for i in range(len(set(params)) if params else 0):
        printf = printf.replace("{" + str(i) + "}", "%s")
    args = [_c(context[p]).cast("string") for p in params]
    if not args:
        return F.lit(fmt)
    return F.format_string(printf, *args)


def matcher(kind: str, message: Column | str, context: dict[str, Column | str]) -> Column:
    """Equality predicate: does ``message`` equal the rendered format
    for ``kind`` under ``context``? (P4, ``onefs.py:323-478``)."""
    return _c(message) == rendered(kind, context)


def first_match(message: Column | str, context: dict[str, Column | str]) -> Column:
    """The first matching kind for a message (or 'unclassified') — the
    engine's vectorized form of probing every predicate."""
    expr = F.lit("unclassified")
    for kind in reversed(list(FORMATS)):
        expr = F.when(matcher(kind, message, context), F.lit(kind)).otherwise(expr)
    return expr


def is_transient(message: Column | str) -> Column:
    """True for the try-again message — rows to retry, the engine twin
    of the ``accesses_onefs`` retry loop (``onefs.py:566-596``)."""
    return _c(message) == F.lit(FORMATS["try_again"])
