"""Round-14 operator tests.

Covers the r13 ADVICE fixes (lang_mix_by_source NULL-label groups,
watermark-monitor column validation at wire time, _interval_seconds
unit coverage, bench compact-line truncation loop) and the r13
verdict items landed this round (fk_integrity_report single-pass
fold is pinned in test_r13_ops; here: whatever r14 adds on top).
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL


# ---------------------------------------------------------------
# r13 ADVICE: _interval_seconds must accept every unit Spark's
# withWatermark accepts (day/week/millisecond), not just s/m/h
# ---------------------------------------------------------------

def test_interval_seconds_full_spark_unit_coverage():
    from scholar_stream_spark.streaming.latency import _interval_seconds

    assert _interval_seconds("90 seconds") == 90
    assert _interval_seconds("2 minutes") == 120
    assert _interval_seconds("1 hour") == 3600
    assert _interval_seconds("1 day") == 86400
    assert _interval_seconds("2 weeks") == 1209600
    # milliseconds floor to whole seconds
    assert _interval_seconds("1500 milliseconds") == 1
    assert _interval_seconds("2000 milliseconds") == 2


def test_interval_seconds_rejects_subsecond_and_unknown():
    from scholar_stream_spark.streaming.latency import _interval_seconds

    with pytest.raises(ValueError, match="floors to 0"):
        _interval_seconds("500 milliseconds")
    with pytest.raises(ValueError, match="unsupported interval"):
        _interval_seconds("3 fortnights")
    with pytest.raises(ValueError, match="unsupported interval"):
        _interval_seconds("5")


# ---------------------------------------------------------------
# r13 ADVICE: a mis-keyed WatermarkResizeMonitor must fail at wire
# time (before .start()), not inside foreachBatch mid-stream
# ---------------------------------------------------------------

def test_watermark_monitor_validate_columns_contract(spark):
    from scholar_stream_spark.streaming.latency import (
        WatermarkResizeMonitor,
    )

    mon = WatermarkResizeMonitor("5 seconds")  # default user_id key
    with pytest.raises(ValueError, match="user_id"):
        mon.validate_columns(["event_id", "event_type", "ts"])
    # remapped to a column the wire carries: passes
    mon2 = WatermarkResizeMonitor("5 seconds", key_col="event_type")
    mon2.validate_columns(["event_id", "event_type", "ts"])
    # observe on a CHECK batch raises the same loud error
    df = spark.createDataFrame(
        [(1, "view")], "event_id long, event_type string"
    )
    with pytest.raises(ValueError, match="not in the stream schema"):
        mon.observe(df, batch_id=0)


def test_anomaly_wire_rejects_miskeyed_monitor_before_start(
    spark, tmp_path
):
    """start_anomaly_monitor with a default-keyed monitor on the
    (event_id, event_type, ts) wire must raise BEFORE starting a
    query — previously it started fine and died inside foreachBatch
    on the first check batch (r13 ADVICE)."""
    from scholar_stream_spark.streaming.anomaly_monitor import (
        start_anomaly_monitor,
    )
    from scholar_stream_spark.streaming.latency import (
        WatermarkResizeMonitor,
    )

    inbox = tmp_path / "in"
    inbox.mkdir()
    stream = spark.readStream.schema(
        "event_id long, event_type string, ts timestamp"
    ).json(str(inbox))
    n_before = len(spark.streams.active)
    with pytest.raises(ValueError, match="user_id"):
        start_anomaly_monitor(
            stream,
            counts_path=str(tmp_path / "c"),
            alerts_path=str(tmp_path / "a"),
            checkpoint_path=str(tmp_path / "ck"),
            trigger_available_now=True,
            watermark_monitor=WatermarkResizeMonitor("1 seconds"),
        )
    assert len(spark.streams.active) == n_before


# ---------------------------------------------------------------
# r13 ADVICE: lang_mix_by_source groups whose labels are ALL NULL
# must report label_agree_frac = 0.0 (the oracle's CASE..ELSE 0),
# not NULL (Spark's sum-over-all-NULL)
# ---------------------------------------------------------------

def test_lang_mix_by_source_all_null_labels_agree_zero(spark):
    from scholar_stream_spark.operators import textops

    docs = spark.createDataFrame(
        [
            (0, "the and with of", None, "web"),
            (1, "the of to in", None, "web"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    rows = textops.lang_mix_by_source(docs).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["source"], r["pred_lang"], r["n_docs"]) == ("web", "en", 2)
    assert r["label_agree_frac"] == 0.0  # not None


# ---------------------------------------------------------------
# r13 ADVICE: the bench compact stdout line must fit the ~2000-char
# driver tail window regardless of query-name length — the
# truncation loops 20 -> 10 -> 5 -> 0 instead of one retry
# ---------------------------------------------------------------

def test_bench_compact_line_truncation_always_fits():
    import json

    # simulate the bench tail logic with adversarially long names
    def tail_line(name_len: int) -> dict:
        timings = {
            f"q_{'x' * name_len}_{i}": 1.0 + i for i in range(40)
        }
        slowest = dict(
            sorted(timings.items(), key=lambda kv: -kv[1])[:20]
        )
        compact = {
            "metric": "query_set_wall_clock", "value": 260.0,
            "unit": "sec", "sf": 0.1, "n_queries": len(timings),
            "n_failed": 0, "n_flaky": 0,
            "passes": [320.0, 264.0, 269.0],
            "calibration_min_sec": 0.1,
            "queries": slowest, "queries_truncated_to_slowest": 20,
            "full_results_file": "BENCH_r14_local.json",
            "started_at": "2026-08-15T00:00:00Z",
        }
        compact_line = json.dumps(compact)
        for keep in (10, 5, 0):
            if len(compact_line) <= 1900:
                break
            compact["queries"] = dict(list(slowest.items())[:keep])
            compact["queries_truncated_to_slowest"] = keep
            compact_line = json.dumps(compact)
        assert len(compact_line) <= 1900
        return json.loads(compact_line)

    # 120-char names: shrinks until it fits, keeping what it can
    assert 0 < len(tail_line(120)["queries"]) <= 10
    # 500-char names: even 5 overflow -> queries dropped entirely,
    # the headline metrics still parse
    parsed = tail_line(500)
    assert parsed["queries"] == {}
    assert parsed["n_queries"] == 40


# ---------------------------------------------------------------
# r13 verdict item 5: the restart loop that EXECUTES the watermark
# resize recommendation — same checkpoint, wider delay, late rows
# admitted that the old delay would have dropped
# ---------------------------------------------------------------

def test_run_with_watermark_resizing_admits_post_resize(
    spark, tmp_path
):
    """End to end: pass 1 runs the windowed aggregation at a 1 s
    delay (availableNow, drains, watermark advances to ~199 s); the
    monitor — latched from the measured 100 s disorder — triggers a
    restart at its 125 s recommendation FROM THE SAME CHECKPOINT.
    Pass 2's fixture (planted by the second build_query call) carries
    a 90 s-late event: under the old 1 s delay the advancing batch
    would have pushed the watermark past it (299 > 210); under the
    resized 125 s delay the watermark holds at 199 and the row lands
    in a finalized window. Asserts the exact admitted set, the [210,
    240) window row, the restart count, and the rebased monitor."""
    import datetime
    import json
    import os

    from pyspark.sql import functions as F

    from scholar_stream_spark.streaming.latency import (
        WatermarkResizeMonitor,
        run_with_watermark_resizing,
    )

    base = int(
        datetime.datetime(
            2026, 1, 1, tzinfo=datetime.timezone.utc
        ).timestamp()
    )
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def plant(name, secs, mtime):
        p = inbox / name
        p.write_text(
            "\n".join(
                json.dumps({"event_id": i, "sec": base + s})
                for i, s in enumerate(secs)
            )
        )
        os.utime(p, (mtime, mtime))

    # pass-1 fixture: in-order batch advances the watermark to 199 s
    # at the 1 s delay (one file per micro-batch)
    plant("b0.json", [10, 40, 90, 160, 200], 1_700_000_000)

    # the monitor latches from the measured disorder (the sibling
    # landing topology is pinned in test_r13_ops; here the loop is
    # under test): 100 s lateness * 1.25 -> "125 seconds" > 1 s
    mon = WatermarkResizeMonitor(
        "1 seconds", check_every=1, key_col="user_id"
    )
    audit = spark.createDataFrame(
        [
            (1, 1, datetime.datetime.fromtimestamp(
                base + 200, datetime.timezone.utc)),
            (2, 1, datetime.datetime.fromtimestamp(
                base + 100, datetime.timezone.utc)),  # 100 s late
        ],
        "event_id long, user_id long, ts timestamp",
    )
    assert mon.observe(audit, batch_id=0) == "125 seconds"
    assert mon.needs_resize

    calls: list[str] = []

    def build_query(delay):
        calls.append(delay)
        if len(calls) == 2:
            # pass-2 fixture, planted between restarts: an advancing
            # event (300 s) then a 90 s-late one (210 s) in its own
            # batch — vs the held-at-199 watermark it is admitted;
            # the old 1 s delay would have watermarked to 299 first
            plant("b1.json", [300], 1_700_000_010)
            plant("b2.json", [210], 1_700_000_011)
            # flush far future to finalize every real window
            plant("b3.json", [100_000], 1_700_000_012)
        stream = (
            spark.readStream.schema("event_id long, sec long")
            .option("maxFilesPerTrigger", 1)
            .json(str(inbox))
            .select(
                "event_id",
                F.to_timestamp(F.from_unixtime("sec")).alias("ts"),
            )
        )
        agg = (
            stream.withWatermark("ts", delay)
            .groupBy(F.window("ts", "30 seconds").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        return (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    result = run_with_watermark_resizing(
        build_query, mon, initial_delay="1 seconds"
    )
    assert result["restarts"] == 1
    assert result["delay"] == "125 seconds"
    assert result["resize_pending"] is False
    assert calls == ["1 seconds", "125 seconds"]
    # monitor rebased to the active delay
    assert mon.configured_seconds == 125 and not mon.needs_resize

    got = {
        (r["w"]["start"].second + r["w"]["start"].minute * 60
         + r["w"]["start"].hour * 3600): r["n"]
        for r in spark.read.parquet(out).collect()
        if r["w"]["start"].year == 2026
    }
    # pass 1: 10,40,90,160,200 all admitted; pass 2: 300 AND the
    # 210 s late row admitted post-resize
    assert got == {0: 1, 30: 1, 90: 1, 150: 1, 180: 1, 210: 1, 300: 1}


# ---------------------------------------------------------------
# r13 verdict item 7: the Unicode/mojibake normalization gate
# ---------------------------------------------------------------

def test_mojibake_rules_safety_invariants():
    """The properties the repair chain's correctness rests on: no
    rule's bad sequence is a prefix of another's (chain order cannot
    change results), and no rule's output contains any rule's bad
    sequence (repair cannot cascade into more repair)."""
    from scholar_stream_spark.operators.curation import MOJIBAKE_RULES

    bads = [b for _, b, _ in MOJIBAKE_RULES]
    for i, b1 in enumerate(bads):
        for j, b2 in enumerate(bads):
            if i != j:
                assert not b2.startswith(b1), (b1, b2)
    for _, _, good in MOJIBAKE_RULES:
        for b in bads:
            assert b not in good
    # and every rule IS a genuine cp1252 mis-decode of its target:
    # good.encode(utf8).decode(cp1252) == bad
    for name, bad, good in MOJIBAKE_RULES:
        assert good.encode("utf-8").decode("cp1252") == bad, name


def test_fix_encoding_repairs_planted_mojibake(spark):
    from scholar_stream_spark.operators import curation

    docs = spark.createDataFrame(
        [
            (0, "CafÃ© rÃ©sumÃ© â€” itâ€™s Ã¼ber", "en", "web"),
            (1, "clean ascii stays byte-identical", "en", "web"),
            (2, None, "en", "web"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    got = {
        r["doc_id"]: r["text"]
        for r in curation.fix_encoding(docs).collect()
    }
    assert got[0] == "Café résumé — it’s über"
    assert got[1] == "clean ascii stays byte-identical"
    assert got[2] is None


def test_fix_encoding_nfc_matches_unicodedata_and_duckdb(spark):
    """The NFC stage (Arrow kernel — Spark has no NFC builtin) must
    agree with BOTH unicodedata (the kernel's own library, on a
    fixture it cannot have memorized: combining marks, Hangul jamo,
    ligature non-decomposition) and DuckDB's nfc_normalize (the
    independent utf8proc implementation)."""
    import unicodedata

    import duckdb

    from scholar_stream_spark.operators import curation

    fixtures = [
        "Café",          # e + combining acute -> é
        "각",  # Hangul jamo -> 각
        "ﬁle",            # fi ligature: NFC must NOT decompose
        "Å",             # A + ring -> Å
        "already composed é ü ñ",
    ]
    docs = spark.createDataFrame(
        [(i, t, "en", "w") for i, t in enumerate(fixtures)],
        "doc_id long, text string, lang string, source string",
    )
    got = {
        r["doc_id"]: r["text"]
        for r in curation.fix_encoding(docs, nfc=True).collect()
    }
    for i, t in enumerate(fixtures):
        want = unicodedata.normalize("NFC", t)
        assert got[i] == want, (i, got[i], want)
        duck = duckdb.sql(
            "SELECT nfc_normalize(?)", params=[t]
        ).fetchone()[0]
        assert got[i] == duck, (i, got[i], duck)


def test_fix_encoding_report_counts_planted_fixture(spark):
    """Hand-countable fixture: 4 docs cycle through the first 4 rules
    (doc_id % 17), each snippet carries its rule's bad sequence twice;
    doc 0 additionally carries one natural Ã© in its text. After
    repair every count is zero."""
    from scholar_stream_spark.operators import curation

    docs = spark.createDataFrame(
        [
            (0, "natural Ã© here", "en", "web"),
            (1, "plain", "en", "web"),
            (2, "plain", "en", "web"),
            (3, "plain", "en", "web"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    rows = {
        r["rule"]: (r["n_hits"], r["n_docs"], r["n_hits_after"])
        for r in curation.fix_encoding_report(docs).collect()
    }
    assert len(rows) == len(curation.MOJIBAKE_RULES)
    # doc 0 -> rule 0 snippet (2 hits) ... doc 3 -> rule 3
    assert rows["right_single_quote"] == (2, 1, 0)
    assert rows["left_double_quote"] == (2, 1, 0)
    assert rows["en_dash"] == (2, 1, 0)
    assert rows["em_dash"] == (2, 1, 0)
    # rule 5 (e_acute) only from doc 0's natural occurrence
    assert rows["e_acute"] == (1, 1, 0)
    # untouched rules: zero everywhere
    assert rows["guillemet_right"] == (0, 0, 0)


# ---------------------------------------------------------------
# r14 widening: C4 sentence-level signals + char-class composition
# ---------------------------------------------------------------

def test_sentence_stats_hand_counted(spark):
    from scholar_stream_spark.operators import textops

    docs = spark.createDataFrame(
        [
            # 3 sentence runs ("..." is ONE), 6 words, terminal-ended
            (0, "One two. Three four... Five six?", "en", "web"),
            # 1 run, 3 words, NOT terminal-ended
            (1, "no caps here.  trailing", "en", "web"),
            # 0 sentences
            (2, "just words no stops", "en", "books"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    got = {
        r["source"]: r for r in textops.sentence_stats(docs).collect()
    }
    w = got["web"]
    assert (w["n_docs"], w["n_sentences"]) == (2, 4)
    assert w["avg_sentences_per_doc"] == 2.0
    # words: doc0 has 6 ws-tokens, doc1 "no caps here.  trailing" =
    # len-diff rule counts the double space as two -> 5; (6+5)/4
    assert w["avg_words_per_sentence"] == 2.75
    assert w["min3_frac"] == 0.5
    assert w["terminal_frac"] == 0.5
    b = got["books"]
    assert (b["n_sentences"], b["avg_words_per_sentence"]) == (0, None)
    assert b["min3_frac"] == 0.0 and b["terminal_frac"] == 0.0


def test_char_class_profile_partitions_every_char(spark):
    from scholar_stream_spark.operators import textops

    docs = spark.createDataFrame(
        [
            (0, "ab 12!", "en", "web"),      # 2 alpha 2 digit 1 sp 1 other
            (1, "x\ty\x0bz", "en", "web"),   # 3 alpha, tab+VT whitespace
        ],
        "doc_id long, text string, lang string, source string",
    )
    r = textops.char_class_profile(docs).collect()[0]
    assert (r["n_docs"], r["n_chars"]) == (2, 11)
    assert r["alpha_frac"] == round(5 / 11, 6)
    assert r["digit_frac"] == round(2 / 11, 6)
    assert r["space_frac"] == round(3 / 11, 6)
    assert r["other_frac"] == round(1 / 11, 6)
    # the four classes partition the text by construction
    assert (
        round(
            r["alpha_frac"] + r["digit_frac"] + r["space_frac"]
            + r["other_frac"],
            5,
        )
        == 1.0
    )


def test_sentence_terminal_anchor_parity_on_trailing_newlines(spark):
    """Review fix: `$` diverges between Java regex (matches before a
    final line terminator) and DuckDB's RE2 (end-of-text only), so
    the terminal rule is `\\z`-anchored (`TERMINAL_END_RE`) with an
    explicit trailing-whitespace class. Pins BOTH engines on the
    exact tails that used to diverge — a doc ending "sentence.\\n"
    must count as terminal-ended on both — and the aggregated
    terminal_frac on a trailing-newline fixture."""
    import duckdb

    from pyspark.sql import functions as F

    from scholar_stream_spark.operators import textops

    tails = [
        "Fine sentence.\n",
        "Fine sentence.",
        "crlf tail.\r\n",
        "tab tail!\t",
        "vtab tail?\x0b",
        "no terminal\n",
        "mid. text",
        "",
    ]
    want = [True, True, True, True, True, False, False, False]
    got_spark = [
        r["m"]
        for r in spark.createDataFrame(
            [(i, t) for i, t in enumerate(tails)], "i long, text string"
        )
        .orderBy("i")
        .select(
            "i", F.col("text").rlike(textops.TERMINAL_END_RE).alias("m")
        )
        .collect()
    ]
    assert got_spark == want
    con = duckdb.connect()
    got_duck = [
        con.execute(
            "SELECT regexp_matches(?, ?)", [t, textops.TERMINAL_END_RE]
        ).fetchone()[0]
        for t in tails
    ]
    assert got_duck == want

    docs = spark.createDataFrame(
        [
            (0, "One two. Three four... Five six?\n", "en", "web"),
            (1, "no terminal\n", "en", "web"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    row = textops.sentence_stats(docs).collect()[0]
    assert row["terminal_frac"] == 0.5


class _FakeStreamingQuery:
    """Minimal StreamingQuery stand-in for supervisor edge cases the
    real-stream test (above) can't reach cheaply: a CONTINUOUS query
    that never terminates on its own."""

    def __init__(self):
        self.stopped = False
        self.await_calls = 0

    def awaitTermination(self, timeout=None):
        self.await_calls += 1
        if timeout is None:
            return None  # blocking variant returns None post-stop
        return self.stopped  # poll: "terminated" only once stopped

    def stop(self):
        self.stopped = True


def test_resize_supervisor_never_strands_a_stopped_stream():
    """Review fix: restart eligibility is decided BEFORE stopping.
    Budget-exhausted latch (max_restarts=0) with a GENUINELY widening
    recommendation (lateness 200 s -> 250 s > the 100 s active delay,
    via the monitor's real `_lateness_us` microsecond history) must
    return the continuous query still RUNNING with resize_pending —
    isolating the `restarts < max_restarts` clause specifically."""
    from scholar_stream_spark.streaming.latency import (
        WatermarkResizeMonitor,
        run_with_watermark_resizing,
    )

    mon = WatermarkResizeMonitor("100 seconds", check_every=1)
    mon.needs_resize = True
    mon._lateness_us = [200_000_000]  # 200 s * 1.25 = 250 > 100
    assert mon.recommended_seconds == 250

    queries = []

    def build_query(delay):
        q = _FakeStreamingQuery()
        queries.append((delay, q))
        return q

    out = run_with_watermark_resizing(
        build_query, mon, max_restarts=0, poll_seconds=0.01
    )
    assert out["resize_pending"] is True
    assert out["restarts"] == 0
    assert len(queries) == 1
    assert queries[0][1].stopped is False  # still running
    assert out["query"] is queries[0][1]


def test_resize_supervisor_never_restarts_narrower():
    """Review fix: the restart guard is strict `>` — a latched
    recommendation that aged BELOW the active delay (lateness 10 s ->
    13 s < 100 s) is a stale latch: cleared AND rebased to the active
    delay, no restart (restarting narrower would RAISE the resumed
    watermark and drop late rows the active delay admits), and
    supervision continues until the query terminates."""
    from scholar_stream_spark.streaming.latency import (
        WatermarkResizeMonitor,
        run_with_watermark_resizing,
    )

    mon = WatermarkResizeMonitor("100 seconds", check_every=1)
    mon.needs_resize = True
    mon._lateness_us = [10_000_000]  # ceil(10 * 1.25) = 13 < 100
    assert mon.recommended_seconds == 13

    queries = []

    class _StopsAfterLatchClear(_FakeStreamingQuery):
        def awaitTermination(self, timeout=None):
            # terminate naturally on the poll AFTER the stale latch
            # was cleared (cleared -> loop continues -> this poll)
            super().awaitTermination(timeout)
            return mon.needs_resize is False and self.await_calls >= 2

    def build_query(delay):
        q = _StopsAfterLatchClear()
        queries.append((delay, q))
        return q

    out = run_with_watermark_resizing(
        build_query, mon, max_restarts=3, poll_seconds=0.01
    )
    assert out["restarts"] == 0
    assert out["delay"] == "100 seconds"
    assert out["resize_pending"] is False  # stale latch was cleared
    assert mon.configured_seconds == 100  # rebased to the active delay
    assert len(queries) == 1
    assert queries[0][1].stopped is False  # never stopped by us


def test_resize_supervisor_restart_uses_decision_time_recommendation():
    """Review fix: the recommendation is read ONCE per decision. A
    sibling-stream feed that ages the spike out DURING query.stop()
    must not shrink the restart delay — the query restarts at the
    250 s the eligibility test saw, not the 13 s the monitor reads
    after the stop."""
    from scholar_stream_spark.streaming.latency import (
        WatermarkResizeMonitor,
        run_with_watermark_resizing,
    )

    mon = WatermarkResizeMonitor("100 seconds", check_every=1)
    mon.needs_resize = True
    mon._lateness_us = [200_000_000]  # 250 s > 100 s: will restart

    queries = []

    class _AgesOutDuringStop(_FakeStreamingQuery):
        def stop(self):
            # concurrent foreachBatch feed: the spike ages out of the
            # sliding window while the supervisor stops the query
            mon._lateness_us = [10_000_000]  # now reads 13 s
            super().stop()

    class _DrainsImmediately(_FakeStreamingQuery):
        def awaitTermination(self, timeout=None):
            self.await_calls += 1
            return True

    def build_query(delay):
        q = (_AgesOutDuringStop if not queries else _DrainsImmediately)()
        queries.append((delay, q))
        return q

    out = run_with_watermark_resizing(
        build_query, mon, max_restarts=3, poll_seconds=0.01
    )
    assert [d for d, _ in queries] == ["100 seconds", "250 seconds"]
    assert out["restarts"] == 1 and out["delay"] == "250 seconds"
    assert mon.configured_seconds == 250


def test_resize_supervisor_rebases_to_wider_initial_delay():
    """Review fix: the monitor latches against ITS configured delay,
    so an initial_delay wider than the construction delay must rebase
    up front — a steady 130 s recommendation (> the constructed 100 s
    but < the active 200 s) is stale, not an endless latch/clear
    churn; a drained availableNow query returns resize_pending=False."""
    from scholar_stream_spark.streaming.latency import (
        WatermarkResizeMonitor,
        run_with_watermark_resizing,
    )

    mon = WatermarkResizeMonitor("100 seconds", check_every=1)
    mon.needs_resize = True  # latched vs the constructed 100 s
    mon._lateness_us = [104_000_000]  # 130 s: < the active 200 s

    queries = []

    class _DrainsImmediately(_FakeStreamingQuery):
        def awaitTermination(self, timeout=None):
            self.await_calls += 1
            return True

    def build_query(delay):
        q = _DrainsImmediately()
        queries.append((delay, q))
        return q

    out = run_with_watermark_resizing(
        build_query, mon, initial_delay="200 seconds", poll_seconds=0.01
    )
    assert mon.configured_seconds == 200  # rebased to the active delay
    assert out["restarts"] == 0
    assert out["resize_pending"] is False  # drained + non-widening
    assert len(queries) == 1


def test_readability_profile_hand_counted(spark):
    """Flesch micro-average on hand-counted exact integers:
    web = {"The cat sat." (3w/1s/3syl), "Beautiful education!?"
    (2w/1s/7syl: eau-i-u + e-u-a-io)} -> 5w/2s/10syl, wps 2.5,
    spw 2.0, FRE 206.835-1.015*2.5-84.6*2 = 35.0975, FK
    0.39*2.5+11.8*2-15.59 = 8.985. books = "xz pqr" (y IS a vowel,
    so no y either): zero sentences/syllables -> NULL-guarded
    scores, spw 0.0."""
    from scholar_stream_spark.operators import textops

    docs = spark.createDataFrame(
        [
            (0, "The cat sat.", "en", "web"),
            (1, "Beautiful education!?", "en", "web"),
            (2, "xz pqr", "en", "books"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    got = {
        r["source"]: r
        for r in textops.readability_profile(docs).collect()
    }
    w = got["web"]
    assert (w["n_docs"], w["words"], w["sentences"], w["syllables"]) == (
        2, 5, 2, 10,
    )
    assert w["words_per_sentence"] == 2.5
    assert w["syllables_per_word"] == 2.0
    assert w["flesch_reading_ease"] == 35.0975
    assert w["fk_grade"] == 8.985
    b = got["books"]
    assert (b["words"], b["sentences"], b["syllables"]) == (2, 0, 0)
    assert b["words_per_sentence"] is None
    assert b["syllables_per_word"] == 0.0
    assert b["flesch_reading_ease"] is None
    assert b["fk_grade"] is None


def test_ngram_containment_catches_subset_jaccard_misses(spark):
    """A 6-word article (two 5-shingles) quoted verbatim inside a
    16-word wrapper (twelve 5-shingles): containment of the article is
    2/2 = 1.0 but Jaccard is 2/12 < 0.8 — `dedup_ngram_jaccard` must
    NOT pair them while `ngram_containment_pairs` must, with exact
    hand-counted sizes both directions. The unrelated doc pairs with
    neither. Also pins the integer boundary: 4/5 containment (4 of the
    smaller doc's 5 shingles shared) qualifies at num/den = 4/5 via
    `n_inter*den >= num*min` with no float in the decision."""
    from scholar_stream_spark.operators import dedup

    article = "alpha beta gamma delta epsilon zeta"
    wrapper = (
        "header one two three four "
        + article
        + " footer five six seven eight"
    )
    docs = spark.createDataFrame(
        [
            (0, article, "en", "web"),
            (1, wrapper, "en", "web"),
            (2, "totally different words here nothing shared", "en", "web"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    got = {
        (r["d1"], r["d2"]): r
        for r in dedup.ngram_containment_pairs(docs).collect()
    }
    assert set(got) == {(0, 1)}
    r = got[(0, 1)]
    assert (r["n_inter"], r["n1"], r["n2"]) == (2, 2, 12)
    assert r["c12"] == 1.0
    assert r["c21"] == round(2 / 12, 4)
    assert dedup.ngram_jaccard_pairs(docs).count() == 0

    # exact boundary: 9-word doc (5 shingles), 4 shared with its pair
    # (one word changed at the end) -> 4*5 >= 4*5 qualifies exactly
    a = "w1 w2 w3 w4 w5 w6 w7 w8 w9"
    b = "w1 w2 w3 w4 w5 w6 w7 w8 CHANGED"
    docs2 = spark.createDataFrame(
        [(0, a, "en", "web"), (1, b, "en", "web")],
        "doc_id long, text string, lang string, source string",
    )
    rows = dedup.ngram_containment_pairs(docs2).collect()
    assert len(rows) == 1 and rows[0]["n_inter"] == 4
    assert rows[0]["c12"] == 0.8


def test_segment_migration_hand_built_flows(spark):
    """6 customers, every flow class: decayed (c1 tier 5->1), upgraded
    (c2 4->5), churned (c3 3->0), stable-ish (c4 2->3, c5 1->4), new
    (c6 0->2). n=5 per period so the quintile rule maps rank r to
    tier 6-r exactly; c1's period-1 revenue arrives as TWO orders to
    pin the per-period summation."""
    from scholar_stream_spark.operators import relational

    p1, p2 = "1994-06-01", "1995-06-01"
    rows = [
        (1, p1, 250.0), (1, p1, 250.0), (1, p2, 50.0),
        (2, p1, 400.0), (2, p2, 500.0),
        (3, p1, 300.0),
        (4, p1, 200.0), (4, p2, 200.0),
        (5, p1, 100.0), (5, p2, 300.0),
        (6, p2, 100.0),
    ]
    orders = spark.createDataFrame(
        [(c, d, v) for c, d, v in rows],
        "o_custkey long, o_orderdate string, o_totalprice double",
    ).selectExpr(
        "o_custkey", "CAST(o_orderdate AS DATE) AS o_orderdate",
        "o_totalprice",
    )
    got = {
        (r["p1_tier"], r["p2_tier"]): (r["n_customers"], r["revenue_p2"])
        for r in relational.segment_migration(orders).collect()
    }
    assert got == {
        (5, 1): (1, 50.0),
        (4, 5): (1, 500.0),
        (3, 0): (1, 0.0),
        (2, 3): (1, 200.0),
        (1, 4): (1, 300.0),
        (0, 2): (1, 100.0),
    }


# ---------------------------------------------------------------
# r14 widening: sorted-neighborhood record-linkage candidates
# ---------------------------------------------------------------

def _parts_df(spark, names):
    return spark.createDataFrame(
        [
            (i, n, "Brand#1", "type", 1, 9.99)
            for i, n in enumerate(names)
        ],
        "p_partkey long, p_name string, p_brand string, "
        "p_type string, p_size int, p_retailprice double",
    )


def test_snm_pairs_window_and_distance_gate(spark):
    from scholar_stream_spark.operators import dedup

    # spine sorted: aaaa, aaab, aaba, zzzz — window 2 pairs
    # (aaaa,aaab) lev1, (aaaa,aaba) lev2, (aaab,aaba) lev2; zzzz is
    # 3 ranks past aaaa (outside window 2 for aaaa only via gate
    # anyway: lev 4 > max_dist 2); exact dups of aaaa collapse into
    # one spine row with n_parts=2
    names = ["aaaa", "aaaa", "aaab", "aaba", "zzzz"]
    got = {
        (r["name_a"], r["name_b"]): r
        for r in dedup.snm_candidate_pairs(
            _parts_df(spark, names), window=2, max_dist=2
        ).collect()
    }
    assert set(got) == {
        ("aaaa", "aaab"), ("aaaa", "aaba"), ("aaab", "aaba")
    }
    r = got[("aaaa", "aaab")]
    assert (r["lev"], r["parts_a"], r["parts_b"]) == (1, 2, 1)
    # window boundary: with window=1 the (aaaa, aaba) pair (rank
    # distance 2) disappears
    got1 = {
        (r["name_a"], r["name_b"])
        for r in dedup.snm_candidate_pairs(
            _parts_df(spark, names), window=1, max_dist=2
        ).collect()
    }
    assert got1 == {("aaaa", "aaab"), ("aaab", "aaba")}


# ---------------------------------------------------------------
# r14 widening: Heaps'-law bigram vocabulary-growth curve
# ---------------------------------------------------------------

def _docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t, "en", "web") for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string",
    )


def test_vocab_growth_hand_counted(spark):
    from scholar_stream_spark.operators import textops

    # 4 docs, 2 buckets: bucket1 = docs 0-1, bucket2 = docs 2-3.
    # doc0 "a b c"   -> bigrams {a b, b c}
    # doc1 "a b"     -> {a b}            (no new type)
    # doc2 "c d e"   -> {c d, d e}       (2 new)
    # doc3 "x"       -> no bigram
    docs = _docs_df(spark, ["a b c", "a b", "c d e", "x"])
    rows = {
        r["bucket"]: r
        for r in textops.vocab_growth(docs, n_buckets=2).collect()
    }
    b1, b2 = rows[1], rows[2]
    assert (b1["n_docs"], b1["new_types"], b1["cum_types"]) == (2, 2, 2)
    assert (b1["bucket_grams"], b1["cum_grams"]) == (3, 3)
    assert b1["type_token_ratio"] == round(2 / 3, 6)
    assert (b2["n_docs"], b2["new_types"], b2["cum_types"]) == (2, 2, 4)
    assert (b2["bucket_grams"], b2["cum_grams"]) == (2, 5)
    assert b2["type_token_ratio"] == round(4 / 5, 6)


def test_vocab_growth_tokenizer_case_and_punct(spark):
    from scholar_stream_spark.operators import textops

    # "A-b" lowers+splits to (a, b); "a b!" to (a, b): same bigram,
    # so bucket 2 contributes zero new types
    docs = _docs_df(spark, ["A-b", "a b!"])
    rows = {
        r["bucket"]: r
        for r in textops.vocab_growth(docs, n_buckets=2).collect()
    }
    assert rows[1]["new_types"] == 1 and rows[2]["new_types"] == 0
    assert rows[2]["cum_grams"] == 2


# ---------------------------------------------------------------
# r14 widening: per-nation MoM revenue growth
# ---------------------------------------------------------------

def test_revenue_growth_first_month_null_and_lag(spark):
    from scholar_stream_spark.operators import relational

    import datetime as _dt

    orders = spark.createDataFrame(
        [
            (1, 10, _dt.date(1995, 1, 15), 100.0),
            (2, 10, _dt.date(1995, 2, 10), 150.0),
            (3, 20, _dt.date(1995, 1, 20), 80.0),
        ],
        "o_orderkey long, o_custkey long, o_orderdate date, "
        "o_totalprice double",
    )
    customer = spark.createDataFrame(
        [(10, 1), (20, 2)], "c_custkey long, c_nationkey long"
    )
    nation = spark.createDataFrame(
        [(1, "ALPHA"), (2, "BETA")], "n_nationkey long, n_name string"
    )
    rows = {
        (r["nation"], r["month"]): r
        for r in relational.revenue_growth_by_nation(
            orders, customer, nation
        ).collect()
    }
    assert rows[("ALPHA", "1995-01")]["mom_growth"] is None
    assert rows[("ALPHA", "1995-02")]["mom_growth"] == 0.5
    assert rows[("BETA", "1995-01")]["revenue"] == 80.0
    # BETA has no second month — exactly one row
    assert len([k for k in rows if k[0] == "BETA"]) == 1


# ---------------------------------------------------------------
# r14 widening: MMR diversified top-k (rows-only pins)
# ---------------------------------------------------------------

def test_mmr_lambda_one_equals_exact_topk(spark):
    from scholar_stream_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in similarity.cosine_topk(emb, k=5).collect()
    }
    mmr = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in similarity.mmr_topk(emb, k=5, lam=1.0).collect()
    }
    assert mmr == exact


def test_mmr_shortlist_containment_and_shape(spark):
    from scholar_stream_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    short = similarity.cosine_topk(emb, k=similarity.MMR_SHORTLIST)
    allowed = {
        (r["query_id"], r["neighbor_id"]) for r in short.collect()
    }
    out = similarity.mmr_topk(emb, k=5).collect()
    assert all(
        (r["query_id"], r["neighbor_id"]) in allowed for r in out
    )
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert len(per_q) == similarity.ANN_NUM_QUERIES
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())


def test_mmr_partition_invariance(spark):
    from scholar_stream_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    a = sorted(map(tuple, similarity.mmr_topk(emb, k=5).collect()))
    b = sorted(
        map(
            tuple,
            similarity.mmr_topk(emb.repartition(13), k=5).collect(),
        )
    )
    assert a == b


def test_mmr_diversity_strictly_improves_on_planted_neardups(spark):
    """Plant a query whose top relevance hits are near-copies of each
    other plus moderately-relevant diverse vectors: plain top-k takes
    the near-copies; MMR at λ=0.7 must swap at least one out, and the
    selected set's max intra-set cosine must drop strictly."""
    import numpy as np
    from scholar_stream_spark.operators import similarity

    # controlled geometry (orthonormal basis): a 4-vector near-dup
    # cluster at rel≈0.93 to q with ≈1.0 mutual cosine, and 8 diverse
    # vectors at rel=0.90 with ≈0.81 mutual cosine. Plain top-4 takes
    # the cluster (higher rel); at λ=0.7 a cluster member's marginal
    # score is 0.7·0.93 − 0.3·1.0 ≈ 0.35 while a diverse item scores
    # 0.7·0.90 − 0.3·0.84 ≈ 0.38 — MMR must swap cluster for diverse.
    rng = np.random.default_rng(7)
    basis, _ = np.linalg.qr(rng.normal(size=(64, 16)))
    q = basis[:, 0]
    u = basis[:, 1]
    cluster = [
        0.93 * q + 0.368 * u + 0.003 * basis[:, 10 + i]
        for i in range(4)
    ]
    diverse = [0.9 * q + 0.436 * basis[:, 2 + i] for i in range(8)]
    rows = [(0, [float(x) for x in q])]
    vid = 1
    for v in cluster + diverse:
        rows.append((vid, [float(x) for x in v]))
        vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )

    def max_intra(ids):
        vecs = {r[0]: np.array(r[1]) for r in rows}
        sel = [vecs[i] / np.linalg.norm(vecs[i]) for i in ids]
        m = np.array(sel) @ np.array(sel).T
        np.fill_diagonal(m, -1)
        return m.max()

    plain = [
        r["neighbor_id"]
        for r in similarity.cosine_topk(emb, k=4, n_queries=1).collect()
    ]
    div = [
        r["neighbor_id"]
        for r in similarity.mmr_topk(
            emb, k=4, n_queries=1, lam=0.7, shortlist=12
        ).collect()
    ]
    assert set(div) != set(plain)
    assert max_intra(div) < max_intra(plain)


# ---------------------------------------------------------------
# r14 widening: PMI co-occurrence + k-anonymity audit
# ---------------------------------------------------------------

def test_pmi_hand_counted(spark):
    import math
    from scholar_stream_spark.operators import textops

    # doc1 tokens (a b a), doc2 (b a); window 2:
    #   doc1 d=1: "a b","a b"; d=2: "a a";  doc2 d=1: "a b"
    # P=4, N=5, c(a)=3, c(b)=2, c("a b")=3, c("a a")=1
    docs = _docs_df(spark, ["a  b a", "b a"])
    rows = {
        (r["w_a"], r["w_b"]): r
        for r in textops.pmi_cooccurrence(docs, min_count=1).collect()
    }
    ab = rows[("a", "b")]
    assert (ab["pair_count"], ab["count_a"], ab["count_b"]) == (3, 3, 2)
    assert ab["pmi"] == round(math.log(((3.0 * 5) * 5) / ((4.0 * 3) * 2)), 4)
    aa = rows[("a", "a")]
    assert (aa["pair_count"], aa["count_a"], aa["count_b"]) == (1, 3, 3)
    assert aa["pmi"] == round(math.log(((1.0 * 5) * 5) / ((4.0 * 3) * 3)), 4)
    # min_count gates the singleton pair out
    gated = textops.pmi_cooccurrence(docs, min_count=2).collect()
    assert {(r["w_a"], r["w_b"]) for r in gated} == {("a", "b")}


def test_pmi_pair_canonicalization_and_short_docs(spark):
    from scholar_stream_spark.operators import textops

    # "b a" and "a b" are the SAME unordered pair; a 1-token doc and
    # an empty doc contribute no pairs (and '' never becomes a token)
    docs = _docs_df(spark, ["b a", "a b", "x", "  "])
    rows = textops.pmi_cooccurrence(docs, min_count=1).collect()
    pairs = {(r["w_a"], r["w_b"]): r["pair_count"] for r in rows}
    assert pairs[("a", "b")] == 2
    assert ("x", "x") not in pairs and ("", "") not in pairs


def test_k_anonymity_hand_counted(spark):
    from scholar_stream_spark.operators import masking

    cust = spark.createDataFrame(
        [
            (1, "n", 1, 500.0, "A"),   # band 0 \ size-2 class
            (2, "n", 1, 600.0, "A"),   # band 0 /
            (3, "n", 1, 1500.0, "A"),  # band 1: size-1 class
        ]
        + [(10 + i, "n", 2, None, "B") for i in range(5)],  # NULL band
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    )
    rows = {
        r["group_size"]: r
        for r in masking.k_anonymity_audit(cust, k=5).collect()
    }
    assert (rows[2]["n_groups"], rows[2]["n_customers"]) == (1, 2)
    assert rows[2]["at_risk"] is True
    assert rows[1]["at_risk"] is True
    # the NULL-balance quintet forms ONE band of size 5 — not at risk
    assert (rows[5]["n_groups"], rows[5]["at_risk"]) == (1, False)
    # the histogram partitions the population
    assert sum(r["n_customers"] for r in rows.values()) == 8


# ---------------------------------------------------------------
# r14 widening: OLS revenue trend + chi-square independence
# ---------------------------------------------------------------

def _orders_cust_nation(spark, rows):
    import datetime as _dt

    orders = spark.createDataFrame(
        [
            (i, custkey, _dt.date(1995, m, 1), price, prio)
            for i, (custkey, m, price, prio) in enumerate(rows)
        ],
        "o_orderkey long, o_custkey long, o_orderdate date, "
        "o_totalprice double, o_orderpriority string",
    )
    customer = spark.createDataFrame(
        [(10, 1, "SEG_A"), (20, 2, "SEG_B")],
        "c_custkey long, c_nationkey long, c_mktsegment string",
    )
    nation = spark.createDataFrame(
        [(1, "ALPHA"), (2, "BETA")], "n_nationkey long, n_name string"
    )
    return orders, customer, nation


def test_revenue_trend_perfect_line_and_null_guards(spark):
    from scholar_stream_spark.operators import relational

    # ALPHA: revenue 100, 200, 300 over consecutive months — a
    # perfect slope-100 line, r2 == 1. BETA: a single month — every
    # regression field NULL (den_x = 0).
    orders, customer, nation = _orders_cust_nation(
        spark,
        [(10, 1, 100.0, "1-URGENT"), (10, 2, 200.0, "1-URGENT"),
         (10, 3, 300.0, "1-URGENT"), (20, 5, 777.0, "2-HIGH")],
    )
    rows = {
        r["nation"]: r
        for r in relational.revenue_trend_by_nation(
            orders, customer, nation
        ).collect()
    }
    a = rows["ALPHA"]
    assert a["n_months"] == 3
    assert a["slope"] == 100.0 and a["r2"] == 1.0
    # intercept: y = 100*(x - x0 + 1) with x = 1995*12 + m
    assert a["intercept"] == round(100.0 - 100.0 * (1995 * 12 + 1), 6)
    b = rows["BETA"]
    assert b["slope"] is None and b["intercept"] is None
    assert b["r2"] is None


def test_revenue_trend_flat_revenue_r2_null(spark):
    from scholar_stream_spark.operators import relational

    # two months, identical revenue: slope 0, den_y = 0 -> r2 NULL
    orders, customer, nation = _orders_cust_nation(
        spark,
        [(10, 1, 500.0, "1-URGENT"), (10, 2, 500.0, "1-URGENT")],
    )
    r = {
        x["nation"]: x
        for x in relational.revenue_trend_by_nation(
            orders, customer, nation
        ).collect()
    }["ALPHA"]
    assert r["slope"] == 0.0 and r["r2"] is None


def test_chi2_independent_and_dependent_grids(spark):
    from scholar_stream_spark.operators import relational

    # independent 2x2 (every cell = expected): chi2 == 0, V == 0
    orders, customer, _ = _orders_cust_nation(
        spark,
        [(10, 1, 1.0, "A"), (10, 1, 1.0, "B"),
         (20, 1, 1.0, "A"), (20, 1, 1.0, "B")],
    )
    r = relational.segment_priority_chi2(orders, customer).collect()[0]
    assert (r["chi2"], r["dof"], r["n_orders"]) == (0.0, 1, 4)
    assert r["cramers_v"] == 0.0

    # perfectly dependent 2x2 (diagonal): chi2 == N, V == 1
    orders2, customer2, _ = _orders_cust_nation(
        spark,
        [(10, 1, 1.0, "A"), (10, 1, 1.0, "A"),
         (20, 1, 1.0, "B"), (20, 1, 1.0, "B")],
    )
    r2 = relational.segment_priority_chi2(orders2, customer2).collect()[0]
    assert (r2["chi2"], r2["cramers_v"]) == (4.0, 1.0)


def test_snm_entity_clusters_transitive_closure(spark):
    from scholar_stream_spark.operators import dedup

    # edges at max_dist=1: aaaa-aaab, aaab-aabb; aaaa-aabb (lev 2) is
    # NOT an edge — the cluster still merges all three transitively.
    # zzzz has no edge: singleton, omitted.
    names = ["aaaa", "aaaa", "aaab", "aabb", "zzzz"]
    rows = dedup.snm_entity_clusters(
        _parts_df(spark, names), window=2, max_dist=1
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["canonical_name"], r["n_names"], r["n_parts"]) == (
        "aaaa", 3, 4,
    )


def test_char_entropy_hand_counted(spark):
    import math
    from scholar_stream_spark.operators import textops

    # "aaaa": one symbol -> entropy 0; "abab": two equiprobable ->
    # ln 2; "ab\ncd" exercises (?s). across the newline (5 distinct
    # chars of 5 -> ln 5); "" omitted (no chars)
    docs = _docs_df(spark, ["aaaa", "abab", "ab\ncd", ""])
    rows = {
        r["doc_id"]: r for r in textops.char_entropy(docs).collect()
    }
    assert set(rows) == {0, 1, 2}
    assert (rows[0]["n_chars"], rows[0]["entropy"]) == (4, 0.0)
    assert rows[1]["entropy"] == round(math.log(2), 4)
    assert (rows[2]["n_chars"], rows[2]["entropy"]) == (
        5, round(math.log(5), 4),
    )


def test_r14_ops_reject_degenerate_params(spark):
    from scholar_stream_spark.operators import (
        dedup, masking, similarity, textops,
    )

    part = _parts_df(spark, ["a"])
    docs = _docs_df(spark, ["a b"])
    cust = spark.createDataFrame(
        [(1, "n", 1, 0.0, "A")],
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    )
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="window must be >= 1"):
        dedup.snm_candidate_pairs(part, window=0)
    with pytest.raises(ValueError, match="max_dist must be >= 1"):
        dedup.snm_entity_clusters(part, max_dist=0)
    with pytest.raises(ValueError, match="window must be >= 1"):
        textops.pmi_cooccurrence(docs, window=0)
    with pytest.raises(ValueError, match="n_buckets must be >= 1"):
        textops.vocab_growth(docs, n_buckets=0)
    with pytest.raises(ValueError, match="k must be >= 1"):
        masking.k_anonymity_audit(cust, k=0)
    with pytest.raises(ValueError, match="bal_band must be > 0"):
        masking.k_anonymity_audit(cust, bal_band=0)
    with pytest.raises(ValueError, match="lambda must be in"):
        similarity.mmr_topk(emb, lam=1.5)
    with pytest.raises(ValueError, match="shortlist"):
        similarity.mmr_topk(emb, k=10, shortlist=5)
    with pytest.raises(ValueError, match="k must be >= 1"):
        similarity.mmr_topk(emb, k=0)
    with pytest.raises(ValueError, match="min_count must be >= 1"):
        textops.pmi_cooccurrence(docs, min_count=0)


# ---------------------------------------------------------------
# prefix_sum_by_range: partition-sum wrap regression (found by the
# hypothesis guard-boundary test mid-r14): Spark's BIGINT SUM wraps
# silently with ANSI off, so a partition of three -2^62 values
# summed to +2^62 and corrupted every downstream offset, even though
# every PREFIX fits int64
# ---------------------------------------------------------------

def test_prefix_sum_partition_sum_wrap_regression(spark):
    from pyspark.sql import functions as F
    from scholar_stream_spark.operators.relational import (
        prefix_sum_by_range,
    )

    q = 4611686018427387904  # 2^62
    vals = [0, 0, q, -q, -q, -q]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v long"
    )
    got = {
        r["id"]: (r["cum"], r["tot"])
        for r in prefix_sum_by_range(
            df, [F.desc("v"), F.asc("id")], "v",
            cum_col="cum", total_col="tot", n_parts=2,
        ).collect()
    }
    # order (v desc, id): id2, id0, id1, id3, id4, id5
    assert got == {
        2: (q, -2 * q), 0: (q, -2 * q), 1: (q, -2 * q),
        3: (0, -2 * q), 4: (-q, -2 * q), 5: (-2 * q, -2 * q),
    }


def test_prefix_sum_out_of_bigint_range_raises(spark):
    from pyspark.sql import functions as F
    from scholar_stream_spark.operators.relational import (
        prefix_sum_by_range,
    )

    q = 4611686018427387904  # 2^62: prefix 3q exceeds int64
    df = spark.createDataFrame(
        [(i, q) for i in range(3)], "id long, v long"
    )
    with pytest.raises(ValueError, match="BIGINT output range"):
        prefix_sum_by_range(
            df, [F.asc("id")], "v", cum_col="cum", n_parts=2
        ).collect()


def test_l_diversity_homogeneous_class_at_risk(spark):
    from scholar_stream_spark.operators import masking

    cust = spark.createDataFrame(
        # class (1, band 0): 3 members, ALL segment A -> l=1, k-safe
        # at k=3 but homogeneity-leaking; class (2, band 0): 2 members
        # across A and B -> l=2, safe
        [
            (1, "n", 1, 100.0, "A"),
            (2, "n", 1, 200.0, "A"),
            (3, "n", 1, 300.0, "A"),
            (4, "n", 2, 100.0, "A"),
            (5, "n", 2, 200.0, "B"),
        ],
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    )
    rows = {
        r["l_distinct"]: r
        for r in masking.l_diversity_audit(cust).collect()
    }
    assert (rows[1]["n_classes"], rows[1]["n_customers"]) == (1, 3)
    assert rows[1]["at_risk"] is True
    assert (rows[2]["n_classes"], rows[2]["at_risk"]) == (1, False)
    assert sum(r["n_customers"] for r in rows.values()) == 5


def test_t_closeness_skewed_class_at_risk(spark):
    """A class can be l-diverse (2 segments) yet skewed: 9-of-10 'A'
    in a 50/50 world has t = 0.4 > 0.3 -> at risk; a class matching
    the global mix exactly has t = 0; a NULL-band class must not be
    dropped by the class join."""
    from scholar_stream_spark.operators import masking

    rows = (
        # class (1, band 0): 9 A + 1 B  -> skewed
        [(i, "n", 1, 100.0, "A") for i in range(9)]
        + [(9, "n", 1, 200.0, "B")]
        # class (2, band 0): 7 A + 7 B -> must sit at LOW t
        + [(20 + i, "n", 2, 100.0, "A") for i in range(7)]
        + [(40 + i, "n", 2, 100.0, "B") for i in range(7)]
        # class (3, NULL band): 2 B
        + [(60, "n", 3, None, "B"), (61, "n", 3, None, "B")]
    )
    cust = spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    )
    out = masking.t_closeness_audit(cust).collect()
    # population: 16 A / 10 B of 26. class1 p=(0.9,0.1):
    # t = .5*(|.9-16/26| + |.1-10/26|) ~ 0.2846 -> bucket 2, safe
    # class2 p=(.5,.5): t = .5*(|.5-16/26|+|.5-10/26|) ~ 0.1154
    # class3 p=(0,1)B: t = .5*(|1-10/26| + 16/26) ~ 0.6154 -> risk
    by_bucket = {(r["t_bucket"], r["at_risk"]): r for r in out}
    assert sum(r["n_customers"] for r in out) == 26
    assert (6, True) in by_bucket          # NULL-band class, t~0.62
    assert by_bucket[(6, True)]["n_customers"] == 2
    assert (2, False) in by_bucket         # the skewed-but-under one
    assert (1, False) in by_bucket         # the matching one
    assert all(
        (r["t_bucket"] >= 4) == r["at_risk"] for r in out
    )  # threshold 0.3 sits inside bucket 3; none of these hit it


def test_t_closeness_rejects_degenerate_params(spark):
    from scholar_stream_spark.operators import masking

    cust = spark.createDataFrame(
        [(1, "n", 1, 0.0, "A")],
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    )
    import pytest as _pt
    with _pt.raises(ValueError, match="t_threshold"):
        masking.t_closeness_audit(cust, t_threshold=0.0)
    with _pt.raises(ValueError, match="bal_band"):
        masking.t_closeness_audit(cust, bal_band=0)
