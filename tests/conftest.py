from __future__ import annotations

import os
import time

import duckdb
import pytest

from sport_data_pipeline_spark.catalog import TABLES
from sport_data_pipeline_spark.session import get_session

# sf0.001 keeps the suite fast; set SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01
# to mirror the driver's correctness gate exactly.
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# This host SIGKILLs long-lived high-CPU processes at ~695-705 s under
# ambient load (SCALE.md; three r14 full-suite runs and the r15 driver's
# verify all lost the Spark JVM mid-run at that age). A single
# ``pytest tests/`` invocation must therefore never keep ONE Spark JVM
# alive that long. ``SparkSession.stop()`` alone is not enough: pyspark
# keeps the py4j gateway process for the lifetime of the Python process
# and the next getOrCreate reuses it, so the JVM's age keeps growing.
# The ``spark`` fixture below recycles the WHOLE JVM (gateway process
# included) between tests once it has been up for
# $SPARK_GRAFT_TEST_JVM_MAX_AGE seconds (default 240). Recycling happens
# only between tests — never inside one — so every test still sees a
# single stable session; data fixtures that used to be module-scoped are
# function-scoped so no DataFrame outlives its session.
_JVM_MAX_AGE = float(os.environ.get("SPARK_GRAFT_TEST_JVM_MAX_AGE", "240"))
_jvm_birth: float | None = None


def _hard_stop_jvm() -> None:
    """Stop the session AND the py4j gateway JVM so the java process
    exits; clear pyspark's process-level globals so the next get_session
    launches a fresh JVM instead of reusing a dead gateway."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession, SQLContext

    active = SparkSession._instantiatedSession
    if active is not None:
        try:
            active.stop()
        except Exception:
            # a crashed/killed JVM: stop() gave up before clearing the
            # session globals, so the next getOrCreate would return this
            # session; clear them, and tear the gateway down below
            SparkSession._instantiatedSession = None
            SparkSession._activeSession = None
            SQLContext._instantiatedContext = None
            SparkContext._active_spark_context = None
    gw = SparkContext._gateway
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
        proc = getattr(gw, "proc", None)
        if proc is not None:
            try:
                proc.terminate()
                proc.wait(timeout=30)
            except Exception:
                pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def _jvm_dead() -> bool:
    """True when the gateway's java process has exited, or its
    SparkContext is stopped or unreachable (the JVM is shutting down)."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return False
    proc = getattr(gw, "proc", None)
    if proc is not None and proc.poll() is not None:
        return True
    sc = SparkContext._active_spark_context
    try:
        return sc is not None and sc._jsc.sc().isStopped()
    except Py4JError:
        return True


@pytest.fixture()
def spark():
    global _jvm_birth
    from pyspark.sql import SparkSession

    # A test that kills the JVM (an OutOfMemoryError in a task thread
    # exits it) fails on its own; every later test gets a fresh JVM
    # instead of the dead session.
    if _jvm_dead():
        _hard_stop_jvm()
    alive = SparkSession._instantiatedSession or SparkSession.getActiveSession()
    if (
        alive is not None
        and _jvm_birth is not None
        and time.time() - _jvm_birth > _JVM_MAX_AGE
    ):
        _hard_stop_jvm()
        alive = None
    s = get_session("tests", cpus=4, shuffle_partitions=8)
    if alive is None or _jvm_birth is None:
        _jvm_birth = time.time()
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()
