"""Engine caches are per session object, never per ``id(spark)``: a new
session is never answered from another session's entries, and a dropped
session frees its entries with itself."""

from __future__ import annotations

import gc
import weakref

from pinot_spark import catalog
from pinot_spark.plans import materialized
from pinot_spark.session import SessionCache
from pinot_spark.streaming import ingest


def test_entries_belong_to_their_session_and_die_with_it(new_session):
    cache = SessionCache("test_entries")
    old = new_session()
    cache.of(old)["frame"] = old.range(3)  # a frame that references its session
    gone = weakref.ref(old)
    new = new_session()
    del old
    gc.collect()
    assert gone() is None
    assert cache.of(new) == {}


def test_dropped_session_tables_do_not_answer_for_a_new_session(new_session, sf_dir):
    old = new_session()
    catalog.load_tables(old, sf_dir, register=False)
    gone = weakref.ref(old)
    new_session()
    del old
    gc.collect()
    assert gone() is None
    new = new_session()  # may well take the collected session's id
    tables = catalog.load_tables(new, sf_dir, register=False)
    assert tables and all(df.sparkSession is new for df in tables.values())
    assert catalog.load_tables(new, sf_dir, register=False)["region"] is tables["region"]


def test_clear_empties_every_session(spark, new_session, sf_dir):
    other = new_session()
    for s in (spark, other):
        catalog.load_tables(s, sf_dir, register=False)
    before = catalog.load_tables(other, sf_dir, register=False)["region"]
    catalog._TABLE_CACHE.clear()
    assert catalog._TABLE_CACHE.of(spark) == {} and catalog._TABLE_CACHE.of(other) == {}
    assert catalog.load_tables(other, sf_dir, register=False)["region"] is not before


def test_every_engine_cache_is_per_session():
    for cache in (catalog._TABLE_CACHE, catalog._REGISTERED, materialized._MV_DF_CACHE, ingest._SNAPSHOTS):
        assert isinstance(cache, SessionCache)


_STOP_AND_RESTART = """
import gc, sys
from pinot_spark import catalog
from pinot_spark.session import get_spark

confs = {"spark.driver.memory": "512m", "spark.ui.enabled": "false"}
old = get_spark("stop-restart", confs)
catalog.load_tables(old, sys.argv[1])
old.stop()
del old
gc.collect()
new = get_spark("stop-restart", confs)
tables = catalog.load_tables(new, sys.argv[1])
assert all(df.sparkSession is new for df in tables.values())
print(new.table("region").count())
new.stop()
"""


def test_stopped_session_entry_does_not_answer_for_a_new_session(sf_dir, tmp_path):
    """The real sequence, in its own driver: stop the session, build a
    new one (it may take the stopped one's id), load the same dataset."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(catalog.__file__)))
    env = {**os.environ, "PYTHONPATH": root, "SPARK_GRAFT_CPUS": "1"}
    out = subprocess.run([sys.executable, "-c", _STOP_AND_RESTART, sf_dir], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    assert int(out.stdout.split()[-1]) > 0
