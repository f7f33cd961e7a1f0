"""Unit tests for trace / anomaly / enrich / aggregate-action operators,
reference-unit-test style (SURVEY §5.1): crafted input events, asserted
output events."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_prepper_spark.operators import aggregate as agg_ops
from data_prepper_spark.operators.anomaly import rcf_anomalies, zscore_anomalies
from data_prepper_spark.operators.enrich import geo_enrich, obfuscate, user_agent
from data_prepper_spark.operators.trace import fill_trace_group, service_map_edges


def _spans(spark):
    rows = [
        # traceId, spanId, parentSpanId, serviceName, traceGroup
        ("t1", "a", None, "front", "checkout"),
        ("t1", "b", "a", "cart", None),
        ("t1", "c", "b", "pay", None),
        ("t2", "d", "", "front", "search"),
        ("t2", "e", "d", "front", None),  # same service: no edge
    ]
    return spark.createDataFrame(
        rows, "traceId string, spanId string, parentSpanId string, serviceName string, traceGroup string"
    )


def test_fill_trace_group(spark):
    out = fill_trace_group(_spans(spark))
    got = {r["spanId"]: r["traceGroup"] for r in out.collect()}
    assert got == {"a": "checkout", "b": "checkout", "c": "checkout", "d": "search", "e": "search"}


def test_service_map_edges(spark):
    got = {(r["source"], r["destination"]) for r in service_map_edges(_spans(spark)).collect()}
    assert got == {("front", "cart"), ("cart", "pay")}


def test_zscore_anomalies(spark):
    rows = [("a", float(v)) for v in [10, 11, 9, 10, 10, 11, 9, 10, 100]] + [
        ("b", 5.0),
        ("b", 5.0),
    ]
    df = spark.createDataFrame(rows, "k string, v double")
    out = zscore_anomalies(df, ["k"], "v", threshold=2.0).collect()
    assert len(out) == 1 and out[0]["v"] == 100.0 and out[0]["deviation"] > 2.0


def test_rcf_anomalies(spark):
    rows = [("a", float(v)) for v in range(100)] + [("a", 10000.0)]
    df = spark.createDataFrame(rows, "k string, v double")
    out = rcf_anomalies(df, ["k"], "v").collect()
    assert any(r["v"] == 10000.0 and r["grade"] > 0 for r in out)


def test_obfuscate(spark):
    df = spark.createDataFrame([("card 1234-5678",), ("no digits",)], "s string")
    out = [r["s"] for r in obfuscate(df, "s", patterns=[r"\d{4}"]).collect()]
    assert sorted(out) == ["card ***-***", "no digits"]
    full = [r["s"] for r in obfuscate(df, "s").collect()]
    assert full == ["***", "***"]


def test_user_agent(spark):
    df = spark.createDataFrame(
        [
            ("Mozilla/5.0 (Windows NT 10.0; Win64) AppleWebKit/537 Chrome/120.0.0.1 Safari/537",),
            ("Mozilla/5.0 (iPhone; CPU iPhone OS 17_1) Version/17.1 Safari/604.1",),
            ("curl/8.5.0",),
        ],
        "ua string",
    )
    out = [r["user_agent"] for r in user_agent(df, "ua").collect()]
    assert out[0]["name"] == "Chrome" and out[0]["version"].startswith("120") and out[0]["os"] == "Windows"
    assert out[1]["name"] == "Safari" and out[1]["device"] == "iPhone"
    assert out[2]["name"] == "curl" and out[2]["version"] == "8.5.0"


def test_geo_enrich(spark):
    events = spark.createDataFrame([("10.0.0.5",), ("192.168.1.9",), ("8.8.8.8",)], "ip string")
    geo = spark.createDataFrame(
        [
            (10 * 16777216, 10 * 16777216 + 16777215, "net-10", "US"),
            (192 * 16777216 + 168 * 65536, 192 * 16777216 + 168 * 65536 + 65535, "rfc1918", "EU"),
        ],
        "net_lo long, net_hi long, net_name string, country string",
    )
    out = {r["ip"]: (r["net_name"], r["country"]) for r in geo_enrich(events, "ip", geo).collect()}
    assert out["10.0.0.5"] == ("net-10", "US")
    assert out["192.168.1.9"] == ("rfc1918", "EU")
    assert out["8.8.8.8"] == (None, None)


def test_rate_limiter_cap(spark):
    rows = [(k, "2024-01-01 00:00:00", i) for k in ("a", "b") for i in range(5)]
    df = spark.createDataFrame(rows, "k string, ts string, i long").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = agg_ops.rate_limiter(df, ["k"], 2, "ts", tiebreakers=["i"]).collect()
    by_k: dict[str, list[int]] = {}
    for r in out:
        by_k.setdefault(r["k"], []).append(r["i"])
    assert {k: sorted(v) for k, v in by_k.items()} == {"a": [0, 1], "b": [0, 1]}


def test_percent_sampler_share(spark):
    rows = [("g", i) for i in range(100)]
    df = spark.createDataFrame(rows, "k string, i long")
    out = agg_ops.percent_sampler(df, ["k"], 10.0, "i").collect()
    assert sorted(r["i"] for r in out) == list(range(10))


def test_rcf_drift_series_shingled(spark):
    """Real RCF behavior the quantile proxy could not show: a level shift
    in a shingled time series is flagged at the shift point even though
    every individual value stays inside the historical range; and the
    seeded forest is deterministic across reruns."""
    from data_prepper_spark.operators.anomaly import rcf_anomalies

    # steady alternation 10/11, then a one-step jump to 30 at t=80
    vals = [10.0 if i % 2 == 0 else 11.0 for i in range(80)] + [30.0] + [
        10.0 if i % 2 == 0 else 11.0 for i in range(81, 120)
    ]
    rows = [("srv", i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k string, t int, v double")
    out = rcf_anomalies(
        df, ["k"], "v", shingle_size=4, order_key="t", score_threshold=0.55
    ).collect()
    flagged_t = {r["t"] for r in out}
    assert any(80 <= t <= 83 for t in flagged_t), flagged_t  # the shift windows
    assert all(t >= 78 for t in flagged_t), flagged_t  # steady region stays quiet
    # deterministic across reruns
    again = rcf_anomalies(
        df, ["k"], "v", shingle_size=4, order_key="t", score_threshold=0.55
    ).collect()
    assert sorted((r["t"], round(r["grade"], 12)) for r in out) == sorted(
        (r["t"], round(r["grade"], 12)) for r in again
    )
    # shingle_size > 1 without an ordering column must be rejected
    import pytest as _pytest

    with _pytest.raises(ValueError, match="order_key"):
        rcf_anomalies(df, ["k"], "v", shingle_size=4)


def test_user_agent_extended_ruleset(spark):
    """Round-3 ruleset expansion: dual-identity Chrome derivatives resolve
    to their real family, OS versions extract (incl. the NT-kernel ->
    marketing-name map), bots and programmatic clients classify, and
    device brands resolve."""
    from data_prepper_spark.operators.enrich import user_agent

    cases = {
        "Mozilla/5.0 (Windows NT 10.0; Win64) Chrome/120.0 Safari/537 Edg/120.0.2210":
            ("Edge", "Windows", "10", "Other"),
        "Mozilla/5.0 (Windows NT 6.1) Chrome/109.0 Safari/537 OPR/95.0.4635":
            ("Opera", "Windows", "7", "Other"),
        "Mozilla/5.0 (Linux; Android 13; SM-S918B) Chrome/115.0 Mobile Safari/537 SamsungBrowser/21.0":
            ("Samsung Internet", "Android", "13", "Samsung"),
        "Mozilla/5.0 (Linux; Android 14; Pixel 8) Chrome/121.0 Mobile Safari/537":
            ("Chrome", "Android", "14", "Pixel"),
        "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) Chrome/120.0 YaBrowser/24.1 Safari/537":
            ("Yandex Browser", "Mac OS X", "10.15.7", "Other"),
        "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)":
            ("Googlebot", "Other", "", "Spider"),
        "Slackbot-LinkExpanding 1.0 (+https://api.slack.com/robots)":
            ("Slackbot", "Other", "", "Spider"),
        "okhttp/4.12.0": ("okhttp", "Other", "", "Other"),
        "Go-http-client/2.0": ("Go-http-client", "Other", "", "Other"),
        "PostmanRuntime/7.36.0": ("PostmanRuntime", "Other", "", "Other"),
        "Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) FxiOS/121.0 Mobile Safari/605":
            ("Firefox iOS", "iOS", "17.1", "iPhone"),
    }
    df = spark.createDataFrame([(ua,) for ua in cases], "ua string")
    got = {
        r["user_agent"]["original"]: (
            r["user_agent"]["name"],
            r["user_agent"]["os"],
            r["user_agent"]["os_version"],
            r["user_agent"]["device"],
        )
        for r in user_agent(df, "ua").collect()
    }
    for ua, want in cases.items():
        assert got[ua] == want, (ua, got[ua], want)


def test_user_agent_uap_rerun_replaces_target(spark, tmp_path):
    """Running the uap-core path twice over its own output replaces the
    target column in place, like the curated withColumn path, instead of
    appending a second column of the same name."""
    p = tmp_path / "regexes.yaml"
    p.write_text(
        "user_agent_parsers:\n"
        "  - regex: '(Firefox)/(\\d+)\\.(\\d+)'\n"
        "os_parsers: []\n"
        "device_parsers: []\n"
    )
    df = spark.createDataFrame(
        [(1, "Mozilla/5.0 (X11; Linux x86_64) Firefox/121.0")], "id long, ua string"
    )
    once = user_agent(df, "ua", regexes_yaml=str(p))
    twice = user_agent(once, "ua", regexes_yaml=str(p))
    curated = user_agent(user_agent(df, "ua"), "ua")
    assert once.columns == twice.columns == curated.columns == ["id", "ua", "user_agent"]
    row = twice.collect()[0]
    assert (row.user_agent.name, row.user_agent.version) == ("Firefox", "121.0")
