"""URL column functions (functions/url.py) — host/domain/depth/normalize."""

from __future__ import annotations

from slower_whisper_spark.functions import url as U


def test_host_path_scheme_depth(spark):
    rows = [
        ("https://WWW.Example.COM:8443/a/b/c?x=1#frag",),
        ("http://h00001.example.org/p/0000000001",),
        ("not a url",),
    ]
    df = spark.createDataFrame(rows, "u string")
    got = df.select(
        U.url_host("u").alias("h"),
        U.path_depth("u").alias("d"),
    ).collect()
    assert got[0]["h"] == "www.example.com" and got[0]["d"] == 3
    assert got[1]["h"] == "h00001.example.org" and got[1]["d"] == 2
    assert got[2]["h"] is None and got[2]["d"] == 0


def test_registered_domain(spark):
    rows = [
        ("https://news.bbc.co.uk/x", "bbc.co.uk"),
        ("https://a.b.example.com/", "example.com"),
        ("https://example.com/", "example.com"),
        ("https://localhost/", "localhost"),
        ("https://192.168.0.1/admin", "192.168.0.1"),
        ("https://sub.deep.shop.com.au/", "shop.com.au"),
    ]
    df = spark.createDataFrame(rows, "u string, want string")
    got = df.select("want", U.registered_domain("u").alias("got")).collect()
    for r in got:
        assert r["got"] == r["want"], (r["got"], r["want"])


def test_normalize_url(spark):
    rows = [
        ("HTTPS://Example.COM:443/a?q=Z#frag", "https://example.com/a?q=Z"),
        ("http://Host.ORG:80/", "http://host.org"),
        ("http://host.org:8080/a/", "http://host.org:8080/a/"),  # non-default port + non-root slash kept
        ("https://example.com/", "https://example.com"),
        ("relative/path#f", "relative/path"),
    ]
    df = spark.createDataFrame(rows, "u string, want string")
    got = df.select("want", U.normalize_url("u").alias("got")).collect()
    for r in got:
        assert r["got"] == r["want"], (r["got"], r["want"])


def test_surt_key(spark):
    rows = [
        ("https://news.bbc.co.uk/A/B?x=1#f", "uk,co,bbc,news)/a/b?x=1"),
        ("http://Example.COM", "com,example)/"),
        ("https://example.org/", "org,example)/"),
        ("no host here", None),
    ]
    df = spark.createDataFrame(rows, "u string, want string")
    for r in df.select("want", U.surt_key("u").alias("got")).collect():
        assert r["got"] == r["want"], (r["got"], r["want"])
