from conftest import gen_log_lines
from pyspark.sql import functions as F

from mgl870_tp02_project_01_hadoopmapreducelogs_spark.functions import preprocess as P
from mgl870_tp02_project_01_hadoopmapreducelogs_spark.sources import logs

LINE = (
    "2015-10-18 18:01:47,655 INFO [main] "
    "org.apache.hadoop.mapreduce.v2.app.MRAppMaster: "
    "Created MRAppMaster for application appattempt_1445062781478_0011_000001"
)
CONTINUATION = "java.io.IOException: Bad response ERROR for block"


def _one(spark, col):
    return spark.createDataFrame([(LINE,), (CONTINUATION,)], ["value"]).select(
        col.alias("out")
    ).collect()


def test_strip_chain_matches_reference_semantics(spark):
    # reference preprocess_log_line (process_logs_v10.py:48-57): ts, level,
    # [thread] removed, whitespace collapsed
    rows = _one(spark, P.preprocess(F.col("value")))
    assert rows[0].out == (
        "org.apache.hadoop.mapreduce.v2.app.MRAppMaster: Created MRAppMaster "
        "for application appattempt_1445062781478_0011_000001"
    )
    # continuation line: strip_level removes the embedded ERROR token
    assert "ERROR" not in rows[1].out


def test_extract_keeps_what_reference_destroys(spark):
    df = spark.createDataFrame([(LINE,), (CONTINUATION,)], ["value"]).select(
        P.extract_timestamp(F.col("value")).alias("ts"),
        P.extract_level(F.col("value")).alias("level"),
        P.extract_thread(F.col("value")).alias("thread"),
        P.extract_logger(F.col("value")).alias("logger"),
        P.extract_message(F.col("value")).alias("message"),
    )
    r0, r1 = df.collect()
    assert r0.ts is not None and r0.ts.year == 2015
    assert r0.level == "INFO"
    assert r0.thread == "main"
    assert r0.logger == "org.apache.hadoop.mapreduce.v2.app.MRAppMaster"
    assert r0.message.startswith("Created MRAppMaster")
    # continuation line has no timestamp/thread
    assert r1.ts is None
    assert r1.thread is None


def test_masking_replaces_dynamic_tokens(spark):
    df = P.mask(
        spark.createDataFrame([(LINE,)], ["value"]).select(
            P.extract_message(F.col("value")).alias("message")
        )
    ).select("masked")
    masked = df.collect()[0].masked
    assert masked == "Created MRAppMaster for application <*>"


# lines whose message masks differently under a one-pass alternation
# than under the sequential chain, lines with no digit, and lines that
# hold no rule's literal
_EDGE_LINES = [
    "see http://h/2024-01-01 10:00:00 ok",
    "5container_1_2_3_4",
    "Shutting down the service now",
    "Retrying connect to server: nn/10.0.0.1:8020. Already tried 3 time(s)",
    "fetch hdfs://nn:8020/user/a/b.jar took 5ms",
    "mask at 0xdeadbeef freed",
    "job_1_2 task_1_2_m_3 attempt_1_2_m_3_4 application_1_2 appattempt_1_2_3",
    "no literal or digit here",
    "12 34 5.6 7.8.9.10 11MB 2024-01-01 10:00:00,123",
    "",
]


def _sequential_masked(parsed):
    out = F.col("message")
    for _name, pattern in P.MASK_RULES:
        out = F.regexp_replace(out, pattern, P.MASK_TOKEN)
    return parsed.select("masked", out.alias("want"))


def _assert_mask_parity(spark):
    lines = gen_log_lines(300) + _EDGE_LINES
    # stack-trace continuation lines: no timestamp prefix
    assert any(line.startswith("java.io.") for line in lines)
    parsed = logs.parse_lines(spark.createDataFrame([(x,) for x in lines], ["value"]))
    rows = _sequential_masked(parsed).collect()
    assert len(rows) == len(lines)
    assert [r.masked for r in rows] == [r.want for r in rows]


def test_guarded_masking_matches_the_sequential_chain(spark):
    """``parse_lines``' guarded mask equals a plain ``regexp_replace``
    chain over ``MASK_RULES`` on generated lines (stack-trace
    continuations included) and on edge lines."""
    _assert_mask_parity(spark)


def test_unguarded_rule_runs_on_every_line(spark, monkeypatch):
    """A rule with no ``MASK_GUARDS`` entry runs unguarded: a digit-free
    rule placed between the guarded ones still masks every line."""
    rules = list(P.MASK_RULES)
    rules.insert(3, ("bad_word", r"\b(Bad|service|here)\b"))
    monkeypatch.setattr(P, "MASK_RULES", rules)
    _assert_mask_parity(spark)


def test_event_label_roundtrip(spark):
    df = spark.createDataFrame([(1020,)], ["event_id"]).select(
        P.event_label(F.col("event_id")).alias("lab")
    ).select(
        "lab", P.event_id_from_label(F.col("lab")).alias("back")
    )
    row = df.collect()[0]
    assert row.lab == "Event_1020"
    assert row.back == 1020
