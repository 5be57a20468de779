"""Event-stream filters & projections — the reference's rule chain as
Catalyst predicates.

Reference chain per rule (MQRule.convert, MQRule.java:107-151):
table regex white/black filter (MQFilter.filterTable :132-134, Aviator
regex :16-121) → event-type filter (BitSet, MQFilter.java:56-123) →
column white/black projection (reserved-column bitmap, MQRule.java:356-410)
→ fake (virtual) constant columns (Carrier.addFakeColumn :306-321) —
plus the unconditional pt-online-schema-change temp-table drop
(BinlogWorker.java:90, :910-912).

Here every one of those is a declarative DataFrame op, so Catalyst pushes
the predicates into the parquet scan and prunes columns for free —
``.explain`` shows them under PushedFilters/ReadSchema, which is the whole
point of expressing them this way.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PT_OSC_PATTERN = r"^_.*_(old|new)$"


def filter_tables(
    df: DataFrame,
    white: str | None = None,
    black: str | None = None,
    db_col: str = "db",
    table_col: str = "table",
) -> DataFrame:
    """Regex white/black filter on `db.table` (white wins if both given,
    matching the reference's precedence: whites checked first,
    MQFilter.java:125-139)."""
    full = F.concat_ws(".", F.col(db_col), F.col(table_col))
    if white:
        df = df.filter(full.rlike(white))
    elif black:
        df = df.filter(~full.rlike(black))
    return df


def drop_pt_osc_tables(df: DataFrame, table_col: str = "table") -> DataFrame:
    return df.filter(~F.col(table_col).rlike(PT_OSC_PATTERN))


def filter_event_types(
    df: DataFrame, allowed: list[str], op_col: str = "op"
) -> DataFrame:
    """Event-type membership (the BitSet filter, MQFilter.java:56-123)."""
    return df.filter(F.col(op_col).isin(*allowed))


def project_columns(
    df: DataFrame,
    keep: list[str] | None = None,
    drop: list[str] | None = None,
) -> DataFrame:
    """Column white/black projection → Catalyst column pruning
    (MQRule.handleMsgColumn, MQRule.java:356-410)."""
    if keep is not None:
        return df.select(*[c for c in df.columns if c in set(keep)])
    if drop is not None:
        return df.select(*[c for c in df.columns if c not in set(drop)])
    return df


def with_fake_columns(df: DataFrame, constants: dict[str, str]) -> DataFrame:
    """Constant virtual columns appended per rule
    (ProtobufConverter.getFakeColumns, ProtobufConverter.java:738-750)."""
    for k, v in constants.items():
        df = df.withColumn(k, F.lit(v))
    return df


# --------------------------------------------------------------------- #
# Aviator expression filters (binlake-wave.filter/.../aviater/*)
# --------------------------------------------------------------------- #

#: functions an EL expression may call — envelope-shaping helpers only.
#: Anything outside this set (reflect, java_method, eval-ish UDFs, ...)
#: is rejected BEFORE the string reaches Catalyst: user-supplied rule
#: expressions are config, not code.
EL_FUNCTIONS = frozenset(
    {
        "lower", "upper", "length", "substring", "trim", "abs",
        "concat", "concat_ws", "coalesce", "element_at", "size",
    }
)

_EL_KEYWORDS = frozenset(
    {
        "and", "or", "not", "in", "like", "rlike", "is", "null",
        "true", "false", "between", "distinct",
    }
)

_EL_TOKEN = re.compile(
    r"\s+"
    r"|'(?:[^']|'')*'"                      # string literal ('' escape)
    r"|\d+(?:\.\d+)?"                       # number
    r"|[A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)*"  # (dotted) id
    r"|<=|>=|<>|!=|==|[=<>(),+\-*/%]"       # operators
)


def validate_el_expression(expression: str, columns: list[str]) -> None:
    """Reject an EL filter expression unless every token is a literal, a
    whitelisted operator/keyword, a whitelisted function, or a column
    reference rooted in ``columns``.  The reference hands rule
    expressions straight to Aviator (AviaterELFilter.java:26-34) because
    Aviator is sandboxed; ``F.expr`` is NOT a sandbox (SQL can reach
    subqueries and arbitrary registered functions), so the rebuild
    whitelists first and compiles second."""
    cols = {c.lower() for c in columns}
    pos = 0
    while pos < len(expression):
        m = _EL_TOKEN.match(expression, pos)
        if m is None:
            raise ValueError(
                f"EL expression: illegal token at offset {pos}: "
                f"{expression[pos:pos+20]!r}"
            )
        tok = m.group(0)
        pos = m.end()
        if not tok.strip() or tok[0] in "'0123456789<>=!(),+-*/%":
            continue
        low = tok.lower()
        if low in _EL_KEYWORDS:
            continue
        if low in EL_FUNCTIONS and expression[pos : pos + 1].strip()[:1] == "(":
            continue
        root = low.split(".", 1)[0]
        if root in cols:
            continue
        raise ValueError(
            f"EL expression: {tok!r} is not a column of the frame, an "
            f"allowed function {sorted(EL_FUNCTIONS)}, or an operator"
        )


def filter_expression(df: DataFrame, expression: str | None) -> DataFrame:
    """Arbitrary boolean rule expression over the envelope — the
    AviaterELFilter analog (AviaterELFilter.java:17-36): empty/None
    passes everything (the reference returns true on an empty
    expression); otherwise the expression is whitelist-validated, must
    type to BOOLEAN, and runs as a Catalyst predicate (pushdown-eligible,
    never a per-row evaluator loop)."""
    if expression is None or not expression.strip():
        return df
    validate_el_expression(expression, df.columns)
    pred = F.expr(expression)
    (dtype,) = df.select(pred.alias("_p")).schema.fields
    if dtype.dataType.typeName() != "boolean":
        raise ValueError(
            f"EL expression must be boolean, got {dtype.dataType.simpleString()}: "
            f"{expression!r}"
        )
    return df.filter(pred)


def regex_list_pattern(patterns: str) -> str:
    """The reference's regex-list normalization
    (AviaterRegexFilter.java:33-55, completionPattern :107-121): split
    on comma, sort longest-first (the foo|foot pitfall), anchor each
    with ^...$, join with '|'.  Matching is case-insensitive: the target
    is lowercased at match time (filter :57-69) and the pattern carries
    a ``(?iu)`` flag, so an uppercase literal in a pattern still
    matches.  Unlike the reference, the pattern TEXT is not lowercased:
    that would rewrite the negated classes ``\\D \\W \\S \\B`` into
    ``\\d \\w \\s \\b`` and silently invert what they match."""
    parts = [p.strip() for p in patterns.split(",") if p.strip()]
    parts.sort(key=len, reverse=True)
    return "(?iu)" + "|".join(f"^{p}$" for p in parts) if parts else ""


def filter_regex_list(
    df: DataFrame,
    patterns: str | None,
    target_col: str = "table",
    default_empty: bool = True,
) -> DataFrame:
    """AviaterRegexFilter as a predicate: empty pattern (or NULL target)
    → ``default_empty`` (:34, :57-64)."""
    pat = regex_list_pattern(patterns or "")
    if not pat:
        return df if default_empty else df.limit(0)
    matched = F.lower(F.col(target_col)).rlike(pat)
    keep = F.when(
        F.col(target_col).isNull() | (F.length(target_col) == 0),
        F.lit(default_empty),
    ).otherwise(matched)
    return df.filter(keep)


def filter_simple_list(
    df: DataFrame, csv: str | None, target_col: str = "table"
) -> DataFrame:
    """AviaterSimpleFilter (AviaterSimpleFilter.java:26-47): lowercase
    comma-list membership; empty list or empty target passes."""
    items = [s.strip().lower() for s in (csv or "").split(",") if s.strip()]
    if not items:
        return df
    keep = F.when(
        F.col(target_col).isNull() | (F.length(target_col) == 0), F.lit(True)
    ).otherwise(F.lower(F.col(target_col)).isin(items))
    return df.filter(keep)
