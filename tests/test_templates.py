"""Template-precedence semantics (SURVEY §2.9 Skew-1, hard-part 2).

The reference has THREE precedence behaviors: batch notebook = last
match wins, stream transform = last wins, stream predict = FIRST wins.
This engine standardizes on first-match-wins in template-file order;
these tests pin that on inputs matching ≥2 templates (the real overlap:
HDFS.log_templates.csv's addStoredBlock family, E26-E28).

The compiled regexes drop edge wildcards; the equivalence tests below
check them against the notebook's every-``[*]``-is-``.*`` rule under
Spark ``rlike``, in the batch chain and in the stream HOF.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from log_analysis_bigdata_spark.functions.logparse import RE_MESSAGE
from log_analysis_bigdata_spark.functions.templates import (
    compile_template_regex,
    event_id_expr,
    tag_events,
)
from log_analysis_bigdata_spark.streaming.job import message_features

# E26/E27/E28-style overlap: E26's bare prefix matches every line the
# two more specific templates match.
OVERLAP = [
    ("E26", "[*]addStoredBlock[*]"),
    ("E27", "[*]addStoredBlock: blockMap updated:[*]"),
    ("E28", "[*]addStoredBlock: Redundant addStoredBlock request[*]"),
]


def test_first_match_wins_on_overlap(spark):
    df = spark.createDataFrame(
        [
            (1, "NameSystem.addStoredBlock: blockMap updated: 10.0.0.1 is added"),
            (2, "NameSystem.addStoredBlock: Redundant addStoredBlock request"),
            (3, "no template matches this"),
        ],
        ["id", "message"],
    )
    out = {r["id"]: r["event_id"] for r in tag_events(df, OVERLAP).collect()}
    # both lines match E26 AND a more specific template; file order wins
    assert out[1] == "E26" and out[2] == "E26"
    assert out[3] is None  # null → filtered by P3 downstream

    # reversed file order → the specific templates win, proving order
    # (not specificity) decides — the semantics we standardized on
    rev = {r["id"]: r["event_id"]
           for r in tag_events(df, list(reversed(OVERLAP))).collect()}
    assert rev[1] == "E27" and rev[2] == "E28"


def test_wildcard_compile_unanchored(spark):
    pat = compile_template_regex("Received block[*]of size[*]from[*]")
    df = spark.createDataFrame(
        [("prefix Received block blk_1 of size 5 from /10.0.0.1 suffix",)],
        ["message"],
    )
    assert df.filter(F.col("message").rlike(pat)).count() == 1
    # regex metachars in templates are escaped, not interpreted
    assert compile_template_regex("a.b[*]c").startswith("a\\.b")


def test_single_expression_not_stacked_withcolumns(spark):
    """Plan hygiene (SURVEY §4 plan-size hazard): the 29-template chain
    must be ONE nested CASE WHEN expression, not 29 projections."""
    templates = [(f"E{i}", f"pattern{i}[*]") for i in range(1, 30)]
    df = spark.createDataFrame([("x",)], ["message"])
    tagged = tag_events(df, templates)
    plan = tagged._jdf.queryExecution().optimizedPlan().toString()
    # one Project node containing the whole chain
    assert plan.count("Project") == 1


def reference_regex(template: str) -> str:
    """The notebook's rule (``prepare_data_batch.ipynb:282-286``): every
    ``[*]`` becomes ``.*``, edge wildcards included."""
    return re.escape(template).replace(re.escape("[*]"), ".*")


# HDFS-shaped templates, the wildcard edge cases and one template made
# of regex metacharacters (``.``, ``(``, ``$``, ``?``, ``\``).
EQUIV_TEMPLATES = [
    ("E1", "[*]Served block[*]to[*]"),
    ("E2", "[*]Received block[*]of size[*]from[*]"),
    ("E3", "[*]PacketResponder[*]for block[*]terminating[*]"),
    ("E4", "Unexpected error trying to delete block[*]BlockInfo not found[*]"),
    ("E5", "[*]BLOCK* NameSystem[*]addStoredBlock: blockMap updated:[*]"),
    ("E6", "[*][*]x"),
    ("E7", "a[*][*]b"),
    ("E8", "x[*]"),
    ("E9", "(cost $1.5?)[*]C:\\tmp[*]"),
    ("E10", "[*]"),
]

EQUIV_MESSAGES = [
    "",
    None,
    "Served block blk_1 to /10.0.0.1",
    "10.0.0.2:50010 Served block blk_-7 to /10.0.0.3",
    "Received block blk_2 of size 67108864 from /10.0.0.4",
    "PacketResponder 1 for block blk_3 terminating",
    "Unexpected error trying to delete block blk_4. BlockInfo not found in volumeMap.",
    "BLOCK* NameSystem.addStoredBlock: blockMap updated: 10.0.0.5:50010 is added",
    # the match follows a newline: '.' does not cross it, the search restarts
    "junk line\nServed block blk_5 to /10.0.0.6",
    "Served block blk_6\nto /10.0.0.7",
    "x",
    "ab",
    "a then b",
    "a\nb",
    "(cost $1.5?) paid from C:\\tmp\\y",
    "(cost X1.5?) paid from C:\\tmp",
    "cost $1x5 C:tmp",
    # long line that no literal template matches
    "q" * 2000,
]


def _reference_tag(message):
    """First-match-wins over the reference regexes, independent of
    ``event_id_expr``."""
    return F.coalesce(*[
        F.when(message.rlike(reference_regex(t)), F.lit(eid))
        for eid, t in EQUIV_TEMPLATES
    ])


def test_compiled_regex_equals_reference_under_rlike(spark):
    df = spark.createDataFrame(list(enumerate(EQUIV_MESSAGES)), "id int, message string")
    msg = F.col("message")
    cols = []
    for eid, t in EQUIV_TEMPLATES:
        cols += [msg.rlike(compile_template_regex(t)).alias(f"{eid}_new"),
                 msg.rlike(reference_regex(t)).alias(f"{eid}_ref")]
    rows = df.select("id", *cols).collect()
    assert len(rows) == len(EQUIV_MESSAGES)
    for r in rows:
        for eid, _ in EQUIV_TEMPLATES:
            assert r[f"{eid}_new"] == r[f"{eid}_ref"], (eid, EQUIV_MESSAGES[r["id"]])
    by_msg = {EQUIV_MESSAGES[r["id"]]: r for r in rows}
    # the cases are live: the all-wildcard template matches every non-null
    # string and nothing else; the long line matches only that template
    assert [by_msg[m]["E10_new"] for m in EQUIV_MESSAGES] == [
        None if m is None else True for m in EQUIV_MESSAGES
    ]
    assert [e for e, _ in EQUIV_TEMPLATES if by_msg["q" * 2000][f"{e}_new"]] == ["E10"]
    assert by_msg["junk line\nServed block blk_5 to /10.0.0.6"]["E1_new"]
    assert not by_msg["Served block blk_6\nto /10.0.0.7"]["E1_new"]
    assert by_msg["(cost $1.5?) paid from C:\\tmp\\y"]["E9_new"]
    assert not by_msg["(cost X1.5?) paid from C:\\tmp"]["E9_new"]


def test_tag_events_and_message_features_tag_like_reference(spark):
    """Batch chain, stream HOF and the reference regexes agree per line."""
    prefix = "081109 203615 148 INFO dfs.DataNode: "
    lines = [m for m in EQUIV_MESSAGES if m is not None and "\n" not in m]
    df = spark.createDataFrame(
        [(i, prefix + m) for i, m in enumerate(lines)], "id int, line string"
    ).withColumn("message", F.regexp_extract("line", RE_MESSAGE, 1))
    batch = {r["id"]: (r["event_id"], r["ref"]) for r in tag_events(df, EQUIV_TEMPLATES)
             .withColumn("ref", _reference_tag(F.col("message"))).collect()}
    assert len(batch) == len(lines)
    assert all(got == ref for got, ref in batch.values()), batch
    assert {got for got, _ in batch.values()} >= {"E1", "E2", "E3", "E4", "E5", "E9", "E10"}

    # the stream HOF counts tags per message; one session of all lines
    # plus one single-line message per line
    eids = [e for e, _ in EQUIV_TEMPLATES]
    msgs = [("all", "\n".join(prefix + m for m in lines))] + [
        (f"b{i}", prefix + m) for i, m in enumerate(lines)
    ]
    feats = {r["block_id"]: r for r in message_features(
        spark.createDataFrame(msgs, "block_id string, log_full string"),
        EQUIV_TEMPLATES, eids).collect()}
    for i, (tag, _) in batch.items():
        assert [e for e in eids if feats[f"b{i}"][e]] == ([tag] if tag else [])
    tags = [tag for tag, _ in batch.values()]
    assert {e: feats["all"][e] for e in eids} == {e: tags.count(e) for e in eids}


def test_compiled_templates_have_no_edge_wildcards():
    """Structural pin for linear-time failed searches: a leading ``.*``
    makes ``find()`` rescan from every offset (quadratic in the line)."""
    for _, t in OVERLAP + EQUIV_TEMPLATES:
        pat = compile_template_regex(t)
        if t.replace("[*]", ""):
            assert not pat.startswith(".*") and not pat.endswith(".*"), (t, pat)
            assert ".*.*" not in pat, (t, pat)
        else:
            assert pat == "", (t, pat)
    assert compile_template_regex("[*]Served block[*]to[*]") == r"Served\ block.*to"
