"""get_spark / apply_runtime_confs must configure PRE-EXISTING sessions
too (VERDICT r7 #2): a harness that creates its own SparkSession and
then calls into the engine still gets the load-bearing Arrow batching
regime."""

from littletable_spark.session import _APPLIED, apply_runtime_confs, get_spark

BYTES_KEY = "spark.sql.execution.arrow.maxBytesPerBatch"


def test_get_spark_reapplies_confs_to_active_session(spark):
    prev = spark.conf.get(BYTES_KEY)
    try:
        spark.conf.set(BYTES_KEY, "64m")  # simulate a foreign session
        got = get_spark()
        assert got is spark
        assert spark.conf.get(BYTES_KEY) == "2147483647b"
    finally:
        spark.conf.set(BYTES_KEY, prev)


def test_apply_runtime_confs_is_memoized(spark):
    apply_runtime_confs(spark)
    assert spark in _APPLIED
    prev = spark.conf.get(BYTES_KEY)
    try:
        spark.conf.set(BYTES_KEY, "64m")
        # memoized: does NOT re-set on every call (hot-path cheapness)
        apply_runtime_confs(spark)
        assert spark.conf.get(BYTES_KEY) == "64m"
        # but get_spark (session-acquisition) always refreshes
        get_spark()
        assert spark.conf.get(BYTES_KEY) == "2147483647b"
    finally:
        spark.conf.set(BYTES_KEY, prev)


def test_entry_loaders_apply_confs(spark):
    import __spark_entry__ as m

    prev = spark.conf.get(BYTES_KEY)
    try:
        spark.conf.set(BYTES_KEY, "64m")
        _APPLIED.discard(spark)
        m._t(spark, "/root/testdata/sf0.001", "region").df.count()
        assert spark.conf.get(BYTES_KEY) == "2147483647b"
    finally:
        spark.conf.set(BYTES_KEY, prev)


_RESTART_SCRIPT = r'''
from littletable_spark import Table, get_spark
from littletable_spark.operators.dedup import minhash_band_table
from littletable_spark.operators.multimodal import sniff_media
from littletable_spark.operators.textops import filter_quality, lang_id, quality_score
from littletable_spark.operators.urlops import (
    canonicalize_urls, extract_canonical, extract_links, url_features,
)


def run(spark):
    def t(rows, ddl):
        return Table.from_df(spark.createDataFrame(rows, ddl), name="t")

    docs = t([(1, "the cat sat on the mat and then it slept"),
              (2, "der Hund ist nicht hier und das ist gut")],
             "doc_id long, text string")
    urls = t([("HTTP://Example.COM:80/a/../b?utm_source=x&z=1&a=2#frag",),
              ("https://sub.example.co.uk/p",)], "url string")
    pages = t([(1, '<link rel="canonical" href="/c"><a href="x.html">x</a>',
                "http://e.com/p/q")], "id long, html string, base string")
    blobs = t([(bytearray(b"\x89PNG\r\n\x1a\n" + bytes(8)),)], "b binary")
    calls = {
        "lang_id": lambda: lang_id(docs, "text", "doc_id"),
        "quality_score": lambda: quality_score(docs, "text", "doc_id"),
        "filter_quality": lambda: filter_quality(docs, "text", "doc_id"),
        "canonicalize_urls": lambda: canonicalize_urls(urls, "url"),
        "url_features": lambda: url_features(urls, "url"),
        "extract_links": lambda: extract_links(pages, "html", "base", "id"),
        "extract_canonical": lambda: extract_canonical(pages, "html", "base", "id"),
        "minhash_band_table": lambda: minhash_band_table(docs, "doc_id", "text"),
        "sniff_media": lambda: sniff_media(blobs, "b"),
    }
    return {k: sorted(repr(r) for r in f().df.collect()) for k, f in calls.items()}


first_session = get_spark(cpus=2)
first = run(first_session)
first_session.stop()
second_session = get_spark(cpus=2)
assert second_session is not first_session
second = run(second_session)
for name in first:
    assert first[name] and second[name] == first[name], name
second_session.stop()
print("RESTART_OK", len(first))
'''


def test_memoized_column_trees_survive_session_restart():
    """stop() then get_spark() in ONE process: a call from every
    memoized Column-tree family still runs and returns the same rows on
    the new session (the trees are py4j objects of the gateway, which
    outlives the session). A subprocess, so this suite's shared session
    is never stopped."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root, SPARK_DRIVER_MEMORY="1g")
    r = subprocess.run(
        [sys.executable, "-c", _RESTART_SCRIPT],
        cwd=root, env=env, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    assert "RESTART_OK 9" in r.stdout, r.stdout[-2000:]
