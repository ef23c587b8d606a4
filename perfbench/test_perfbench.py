"""Self-tests of the benchmark's own logic (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def test_offset_commit_join_uses_first_covering_epoch():
    # end offsets 3, 3 (an epoch that admitted nothing) and 7
    epochs = [(3, 100.0), (3, 110.0), (7, 200.0)]
    assert stats.commit_for_offsets(epochs, 9) == [
        100.0, 100.0, 100.0, 200.0, 200.0, 200.0, 200.0, None, None]


def test_offset_commit_join_without_epochs():
    assert stats.commit_for_offsets([], 2) == [None, None]


@pytest.mark.parametrize("n,q", [
    (10_000, 0.999), (9_999, 0.99), (1_000, 0.99), (999, 0.9), (100, 0.9),
    (99, 0.75), (40, 0.75), (39, 0.5), (20, 0.5), (19, None), (0, None)])
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, q):
    assert stats.tail_quantile(n) == q
    if q is not None:
        beyond = sum(1 for x in range(1, n + 1) if x > stats.percentile(range(1, n + 1), q))
        assert beyond >= 10


def test_summarize_falls_back_to_max_below_twenty_samples():
    s = stats.summarize([5.0, 1.0, 3.0])
    assert s == {"n": 3, "p50": 3.0, "tail": 5.0, "tail_q": "max"}
    s = stats.summarize(range(1, 1001))
    assert (s["p50"], s["tail"], s["tail_q"]) == (500, 990, 0.99)


def test_nearest_rank_percentile():
    assert stats.percentile([4, 1, 3, 2], 0.5) == 2
    assert stats.percentile([4, 1, 3, 2], 0.75) == 3
    assert stats.percentile([7], 0.99) == 7


def test_tick_attempt_fails_when_the_latest_read_raises():
    # the ticker reads latest, then ticks; a raise in the read means the
    # tick never starts, and the attempt still counts as a failed one
    spans = [
        {"id": 2, "name": "serve.tick", "start": 1.2, "end": 1.8, "value": 500},
        {"id": 1, "name": "serve.latest", "start": 1.0, "end": 1.1},
        {"id": 3, "name": "serve.latest", "start": 2.8, "end": 2.9,
         "error": "AnalysisException[PATH_NOT_FOUND]"},
        {"id": 4, "name": "serve.latest", "start": 3.9, "end": 4.0},
        {"id": 5, "name": "serve.tick", "start": 4.0, "end": 4.5,
         "error": "Py4JJavaError[FAILED_READ_FILE.FILE_NOT_EXIST]"},
        {"id": 6, "name": "fs.read_with_backup", "start": 3.9, "end": 4.0},
    ]
    got = [(a["start"], a["end"], a["error"], a["tick"] and a["tick"]["id"])
           for a in stats.tick_attempts(spans)]
    assert got == [(1.0, 1.8, None, 2),
                   (2.8, 2.9, "AnalysisException[PATH_NOT_FOUND]", None),
                   (3.9, 4.5, "Py4JJavaError[FAILED_READ_FILE.FILE_NOT_EXIST]", 5)]


@pytest.mark.parametrize("msg,cls", [
    ("[FAILED_READ_FILE.FILE_NOT_EXIST] File x does not exist.",
     "ValueError[FAILED_READ_FILE.FILE_NOT_EXIST]"),
    ("An error occurred while calling o61.parquet.\n: java.io."
     "FileNotFoundException: File file:/x/latest does not exist\n\tat org.a.B.c",
     "ValueError[java.io.FileNotFoundException]"),
    ("no class here", "ValueError")])
def test_error_class(msg, cls):
    import spans
    assert spans.error_class(ValueError(msg)) == cls


def test_split_snapshots_by_receipt_gap():
    times = [0.0, 0.01, 0.02, 1.5, 1.51, 3.2]
    assert stats.split_snapshots(times) == [[0, 1, 2], [3, 4], [5]]


def test_feed_is_a_function_of_the_seed():
    def frames(seed):
        uni = gen.Universe(seed)
        feed = gen.Feed(seed, uni, 2_000, 500, 1, 1_700_000_000_000)
        return [feed.frame(s, 0.0) for s in range(len(feed))], uni
    a, ua = frames(7)
    b, ub = frames(7)
    c, _ = frames(8)
    assert a == b and a != c
    assert ua.exchange == ub.exchange
    assert gen.subscriber_configs(7, ua, "live_mixed") == \
        gen.subscriber_configs(7, ub, "live_mixed")


def test_feed_preload_covers_every_symbol_and_keys_are_unique():
    uni = gen.Universe(3)
    feed = gen.Feed(3, uni, 5_000, gen.N_SYMBOLS, 1, 1_000)
    assert {feed.name(s) for s in range(gen.N_SYMBOLS)} == set(uni.names)
    ts = [feed.timestamp(s) for s in range(len(feed))]
    assert len(set(ts)) == len(ts)
    assert all(feed.seq_of(t) == s for s, t in enumerate(ts))


def test_symbol_weights_are_zipf_like():
    w = sorted(gen.Universe(1).weights, reverse=True)
    assert abs(sum(w) - 1.0) < 1e-9
    assert w[0] / w[-1] == pytest.approx(gen.N_SYMBOLS ** gen.ZIPF_S)


def test_wide_configs_take_the_join_path():
    from_cfgs = gen.subscriber_configs(2, gen.Universe(2), "serve_wide")
    assert len(from_cfgs) == 3 and len({json.dumps(c) for c in from_cfgs}) == 3
    assert all(len(c["symbols"]) == gen.N_SYMBOLS for c in from_cfgs)
    live = gen.subscriber_configs(2, gen.Universe(2), "live_mixed")
    assert live[0] is None and live[1] == live[2]
    assert len(live[1]["symbols"]) == 8


def test_batch_tables_are_a_function_of_the_seed(tmp_path):
    import pyarrow.parquet as pq
    gen.write_batch_tables(5, str(tmp_path / "a"), 0.002)
    gen.write_batch_tables(5, str(tmp_path / "b"), 0.002)
    for t in ("lineitem", "events", "documents", "embeddings"):
        a = pq.read_table(str(tmp_path / "a" / f"{t}.parquet"))
        b = pq.read_table(str(tmp_path / "b" / f"{t}.parquet"))
        assert a.equals(b), t


@pytest.mark.parametrize("now,start", [
    (100.5, 101.0), (101.0, 106.0), (102.0, 106.0), (105.9, 106.0)])
def test_window_opens_where_a_trigger_poll_ends(now, start):
    assert run.window_start(now, 5, 1.0) == start


def test_layer_units():
    assert run.layer_unit("serve.records_sent") == "count"
    assert run.layer_unit("ingest.epoch_ms.p90") == "ms"
    assert run.layer_unit("batch.q1_pricing_summary_s") == "s"
    assert run.layer_unit("batch.q1_pricing_summary.spill_bytes") == "bytes"
    assert run.layer_unit("ingest.rows_per_s") == "1/s"
    assert run.layer_unit("host.jvm_rss_mb.max") == "MB"
    assert run.layer_unit("serve.ticks_failed_ratio") == "ratio"


def test_benchmark_json_matches_the_runner():
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    with open(path) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["per_layer"]] == run.PER_LAYER
    assert {m["name"] for m in spec["end_to_end"]} == set(run.E2E_UNITS)
    for m in spec["end_to_end"]:
        assert m["unit"] == run.E2E_UNITS[m["name"]]
    for m in spec["per_layer"]:
        assert m["unit"] == run.layer_unit(m["name"])
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
