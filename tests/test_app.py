"""App bootstrap tests: the env config loader (config.go:27-83 twin)
and the one-call run_app wiring (main.go:22-87 twin)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Row

from market_data_ingestor_go_spark.app import (
    ConfigError, load_config, parse_duration_millis, run_app)

REQUIRED = {"WS_URL": "ws://x", "WS_API_KEY": "k",
            "DATABASE_URL": "postgres://y"}


def test_parse_duration_go_style():
    assert parse_duration_millis("24h", 1) == 24 * 3_600_000
    assert parse_duration_millis("2s", 1) == 2000
    assert parse_duration_millis("150ms", 1) == 150
    assert parse_duration_millis("1h30m", 1) == 90 * 60_000
    assert parse_duration_millis("1.5s", 1) == 1500
    assert parse_duration_millis("", 42) == 42
    assert parse_duration_millis("nonsense", 42) == 42  # config.go:55-58
    assert parse_duration_millis("5parsecs", 42) == 42  # trailing junk


def test_config_defaults_and_required(tmp_path):
    cfg = load_config(env=dict(REQUIRED), dotenv_path=str(tmp_path / "no"))
    assert cfg.batch_size == 100 and cfg.num_workers == 10   # config.go:34-35
    assert cfg.redis_ttl_millis == 24 * 3_600_000            # REDIS_TTL 24h
    assert cfg.flush_interval_millis == 2000                 # FLUSH_INTERVAL 2s
    assert cfg.subscription_symbols == ["USDSGD"]            # config.go:39
    with pytest.raises(ConfigError):                         # config.go:80-82
        load_config(env={"WS_URL": "ws://x"}, dotenv_path=str(tmp_path / "no"))


def test_config_dotenv_and_env_precedence(tmp_path):
    dotenv = tmp_path / ".env"
    dotenv.write_text(
        'WS_URL="ws://from-file"\nWS_API_KEY=filekey\n'
        "DATABASE_URL=postgres://file\nBATCH_SIZE=7\n"
        "SUBSCRIPTION_SYMBOLS=AAPL, MSFT,BTCUSD\n# comment\nbadline\n")
    cfg = load_config(env={"WS_API_KEY": "envkey", "REDIS_TTL": "90m"},
                      dotenv_path=str(dotenv))
    assert cfg.websocket_url == "ws://from-file"
    assert cfg.api_key == "envkey"             # env overrides .env (viper)
    assert cfg.batch_size == 7
    # divergence (documented): the reference stubs this parse out
    assert cfg.subscription_symbols == ["AAPL", "MSFT", "BTCUSD"]
    assert cfg.redis_ttl_millis == 90 * 60_000


def test_run_app_end_to_end(spark, tmp_path):
    """main.go bootstrap order against live local services: WS feed,
    RESP cache, metrics endpoint; one micro-batch lands in history,
    latest, and the cache; /health + /metrics answer; stop() tears
    down cleanly."""
    import threading
    import time
    import urllib.request

    from market_data_ingestor_go_spark.sources.redis_minimal import (
        MiniRedisServer, RESPClient)
    from market_data_ingestor_go_spark.streaming.ws_minimal import WSServer

    stop_feed = threading.Event()

    def on_connect(conn):
        conn.recv(timeout=5.0)  # subscribe
        i = 0
        try:
            while not stop_feed.is_set() and i < 100:
                conn.send(json.dumps({
                    "name": "USDSGD", "timestamp": int(time.time() * 1000),
                    "exchange": None,
                    "data": {"data": {"bid": 1.34 + i * 1e-4}}}))
                i += 1
                time.sleep(0.05)
        except Exception:
            pass

    feed = WSServer(on_connect=on_connect).start()
    cache = MiniRedisServer().start()
    try:
        cfg = load_config(env={
            **REQUIRED, "WS_URL": feed.url,
            # port 1 refuses instantly: exercises the PG probe's
            # negative path without DNS stalls
            "DATABASE_URL": "postgres://app@127.0.0.1:1/postgres",
            "REDIS_ADDR": f"{cache.host}:{cache.port}",
            "FLUSH_INTERVAL": "1s",
        }, dotenv_path=str(tmp_path / "no"))
        import hashlib
        symbols_dim = spark.createDataFrame(
            [Row(name="USDSGD", exchange="forex")])
        api_keys = spark.createDataFrame(
            [Row(client_id="c1",
                 key_hash=hashlib.sha256(b"k1").hexdigest(),
                 is_active=True, last_used_at=None)],
            schema="client_id string, key_hash string, is_active boolean,"
                   " last_used_at timestamp")
        handle = run_app(spark, cfg, str(tmp_path / "app"), symbols_dim,
                         api_keys=api_keys)
        try:
            deadline = time.time() + 30
            import os
            while (not os.path.exists(
                    str(tmp_path / "app" / "latest" / "_SUCCESS"))
                    and time.time() < deadline):
                time.sleep(0.5)
            latest = handle.pipeline.latest_snapshot().collect()
            assert [r["name"] for r in latest] == ["USDSGD"]
            assert latest[0]["exchange"] == "forex"  # P9 enrich ran
            client = RESPClient(cache.host, cache.port)
            assert client.scan_all() == ["USDSGD"]   # live K2 mirror
            client.close()
            health = urllib.request.urlopen(
                handle.metrics_server.url + "/health", timeout=5).read()
            assert json.loads(health) == {"status": "ok"}
            # the listener bus dispatches progress events async — poll
            metrics = b""
            while time.time() < deadline:
                metrics = urllib.request.urlopen(
                    handle.metrics_server.url + "/metrics", timeout=5).read()
                if b"messages_total" in metrics:
                    break
                time.sleep(0.5)
            assert b"messages_total" in metrics, metrics
            # the broadcast server is live: an authed client receives a
            # transformed tick, and the serve gauges are re-read at
            # scrape time (not startup-frozen zeros)
            from market_data_ingestor_go_spark.streaming.ws_minimal import (
                connect)
            c1 = connect(handle.publisher.url, headers={"x-api-key": "k1"})
            msg = json.loads(c1.recv(timeout=15.0))
            assert msg["symbol"] == "USDSGD"
            c1.close()
            metrics = urllib.request.urlopen(
                handle.metrics_server.url + "/metrics", timeout=5).read()
            assert b"serve_ticks" in metrics
            assert b"serve_ticks 0\n" not in metrics  # live, not frozen
        finally:
            stop_feed.set()
            handle.stop()
    finally:
        feed.stop()
        cache.stop()


def test_module_entry_point(spark, tmp_path):
    """python -m market_data_ingestor_go_spark (non-blocking form):
    env-only bootstrap with parquet-pointed dims, full handle back."""
    import json as _json
    import os
    import threading
    import time
    from market_data_ingestor_go_spark.__main__ import main
    from market_data_ingestor_go_spark.streaming.ws_minimal import WSServer

    stop_feed = threading.Event()

    def on_connect(conn):
        conn.recv(timeout=5.0)
        try:
            for i in range(50):
                if stop_feed.is_set():
                    break
                conn.send(_json.dumps({
                    "name": "USDSGD", "timestamp": int(time.time() * 1000),
                    "exchange": None, "data": {"data": {"bid": 1.3}}}))
                time.sleep(0.05)
        except Exception:
            pass

    feed = WSServer(on_connect=on_connect).start()
    spark.createDataFrame([Row(name="USDSGD", exchange="forex")]) \
        .write.parquet(str(tmp_path / "symbols"))
    env = {
        "WS_URL": feed.url, "WS_API_KEY": "k",
        "DATABASE_URL": "postgres://app@127.0.0.1:1/postgres",
        "SYMBOLS_DIM_PATH": str(tmp_path / "symbols"),
        "ENGINE_BASE_DIR": str(tmp_path / "state"),
        "METRICS_PORT": "0", "FLUSH_INTERVAL": "1s",
    }
    old = {k: os.environ.get(k) for k in env}
    os.environ.update(env)
    handle = None
    try:
        handle = main(block=False)
        assert handle.publisher is None  # no API_KEYS_PATH → ingest only
        deadline = time.time() + 30
        while (not os.path.exists(
                str(tmp_path / "state" / "latest" / "_SUCCESS"))
                and time.time() < deadline):
            time.sleep(0.5)
        assert handle.pipeline.latest_snapshot().count() == 1
    finally:
        stop_feed.set()
        feed.stop()
        if handle is not None:
            handle.stop()
        for k, v in old.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


def test_run_app_batch_size_flush(spark, tmp_path):
    """BATCH_SIZE is honoured: with BATCH_SIZE=1 and an hour-long
    FLUSH_INTERVAL the flush timer cannot fire within the test, so a
    single frame reaching history and latest_snapshot() shows the size
    rule started the micro-batch."""
    import time

    from market_data_ingestor_go_spark.streaming.ws_minimal import WSServer

    now = int(time.time() * 1000)

    def on_connect(conn):
        try:
            conn.recv(timeout=5.0)  # subscribe
            conn.send(json.dumps({"name": "USDSGD", "timestamp": now,
                                  "exchange": None,
                                  "data": {"data": {"bid": 1.34}}}))
        except Exception:
            pass

    feed = WSServer(on_connect=on_connect).start()
    try:
        cfg = load_config(env={
            **REQUIRED, "WS_URL": feed.url,
            "DATABASE_URL": "postgres://app@127.0.0.1:1/postgres",
            "BATCH_SIZE": "1", "FLUSH_INTERVAL": "1h",
        }, dotenv_path=str(tmp_path / "no"))
        symbols_dim = spark.createDataFrame(
            [Row(name="USDSGD", exchange="forex")])
        handle = run_app(spark, cfg, str(tmp_path / "app"), symbols_dim)
        try:
            done = tmp_path / "app" / "latest" / "_SUCCESS"
            deadline = time.time() + 60
            while not done.exists() and time.time() < deadline:
                time.sleep(0.5)
            assert [(r["name"], r["timestamp"]) for r in
                    handle.pipeline.history().collect()] == [("USDSGD", now)]
            assert [(r["name"], r["exchange"]) for r in
                    handle.pipeline.latest_snapshot().collect()] == [
                ("USDSGD", "forex")]
        finally:
            handle.stop()
    finally:
        feed.stop()
