"""Event-template matching — the reference's F2/F7/F16 operators.

The reference keeps 29 ``(EventId, EventTemplate)`` rows with ``[*]``
wildcards (``jobs/stream_layer/HDFS.log_templates.csv``) and has *three*
divergent matching semantics (SURVEY §2.9 Skew-1/2):

- batch notebook: 29 chained ``withColumn(when(rlike))`` where the LAST
  matching template wins (``prepare_data_batch.ipynb:291-300``);
- stream transform: pandas mask loop, also last-wins
  (``jobs/stream_layer/transform.py:44-47``);
- stream predict: first match wins via ``break``
  (``jobs/stream_layer/ML_predict.py:57-63``).

Engine decision (documented in SURVEY §2.9): ONE semantic —
**first-match-wins in template-file order**, expressed as a single
``CASE WHEN`` chain. That is ``ML_predict``'s behavior and the cheapest
plan shape in Spark: one coalesced expression instead of 29 stacked
projections (the reference's plan-authoring hazard, SURVEY §4).

Template → regex compilation keeps the matching semantics of
``prepare_data_batch.ipynb:282-286`` (``re.escape`` the literal text, every
``[*]`` a ``.*``, matched unanchored — batch semantic, Skew-2 decision) but
not its pattern text: the template is split on ``[*]``, each literal
segment is escaped, the segments are joined with ``.*``, and empty
segments are dropped, so no pattern starts or ends with ``.*``. That is
exact for an unanchored search (``rlike`` is ``Matcher.find()``): ``.*``
matches the empty string, so ``.*X`` finds a match iff ``X`` does, ``X.*``
iff ``X`` does, and ``.*.*`` matches what ``.*`` matches. The edge
wildcards are dropped for cost: with a leading ``.*`` a failed ``find()``
re-runs a greedy scan from every start offset, O(len²) per template, and
a line fails about half of the chain before a template matches.
"""

from __future__ import annotations

import re
from collections.abc import Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def compile_template_regex(template: str) -> str:
    """``[*]`` wildcard template → regex for an unanchored search.

    ``[*]Served block[*]to[*]`` → ``Served\\ block.*to``: the escaped
    literal segments joined by ``.*``, empty segments (edge and repeated
    wildcards) dropped. It finds a match in exactly the strings the
    ``.*``-for-every-``[*]`` pattern does (module docstring), without the
    leading ``.*`` that makes a failed search quadratic in the line
    length. An all-wildcard template compiles to ``""``, which matches
    every non-null string, as ``.*`` does.
    """
    return ".*".join(re.escape(seg) for seg in template.split("[*]") if seg)


def event_id_expr(
    templates: Sequence[tuple[str, str]], message: Column
) -> Column:
    """Single CASE-WHEN chain tagging a message with its first matching
    EventId (null when no template matches — P3 then filters those,
    ``prepare_data_batch.ipynb:348``).

    ``templates`` is [(event_id, template_text), ...] in file order;
    the list is driver-side (29 rows) so this is constant folding, not a
    join — the same choice the reference makes by collecting the template
    dim to the driver (``prepare_data_batch.ipynb:291 (cell 7)``).
    """
    expr: Column = F.lit(None).cast("string")
    for eid, tmpl in reversed(list(templates)):
        expr = F.when(message.rlike(compile_template_regex(tmpl)), F.lit(eid)).otherwise(expr)
    return expr


def tag_events(
    df: DataFrame,
    templates: Sequence[tuple[str, str]],
    message_col: str = "message",
    out_col: str = "event_id",
) -> DataFrame:
    """Attach the first-match-wins EventId column."""
    return df.withColumn(out_col, event_id_expr(templates, F.col(message_col)))


def load_templates(spark, path: str) -> list[tuple[str, str]]:
    """Load a template dimension CSV (EventId, EventTemplate) preserving
    file order. 29 rows — driver-side collect is the right call, exactly
    as the reference does at ``prepare_data_batch.ipynb:291``."""
    rows = (
        spark.read.csv(path, header=True)
        .select("EventId", "EventTemplate")
        .collect()
    )
    return [(r["EventId"], r["EventTemplate"]) for r in rows]
