"""recommended_session_conf is the single source of truth for the
long-session ops conf (SCALE.md; r15 verdict ask #6): bench.py,
tests/conftest.py, tools/check_oracle.py and tools/plan_budget.py all
consume it instead of repeating the literals.  These tests pin (a) the
contract of the function itself and (b) that the test session fixture
actually CARRIES the conf — i.e. conftest really consumed it.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from ingest_sharepoint_file_to_fabric_lakehouse_spark.core import (  # noqa: E402
    recommended_session_conf,
)


def test_conf_contract():
    conf = recommended_session_conf()
    # the codegen class cache is THE long-session knob (100-entry LRU
    # default re-pays janino compile per re-execution on a full-registry
    # session); it is static, so it must come from this dict at build
    # time — never from prep()
    assert conf["spark.sql.codegen.cache.maxEntries"] == "10000"
    assert conf["spark.sql.session.timeZone"] == "UTC"
    assert conf["spark.sql.adaptive.enabled"] == "true"
    assert conf["spark.sql.execution.arrow.pyspark.enabled"] == "true"
    assert "spark.sql.shuffle.partitions" not in conf  # only when asked
    assert recommended_session_conf(8)["spark.sql.shuffle.partitions"] == "8"
    assert recommended_session_conf("32")["spark.sql.shuffle.partitions"] == "32"


def test_session_fixture_carries_the_recommended_conf(spark):
    for k, v in recommended_session_conf(4).items():
        assert spark.conf.get(k) == v, f"session dropped {k}"


def test_harnesses_consume_the_single_source():
    """No harness may re-introduce the literal: the conf name appears in
    bench/conftest/check_oracle/plan_budget only via the import."""
    for path in (
        os.path.join(ROOT, "bench.py"),
        os.path.join(ROOT, "tests/conftest.py"),
        os.path.join(ROOT, "tools/check_oracle.py"),
        os.path.join(ROOT, "tools/plan_budget.py"),
        os.path.join(ROOT, "tools/time_keys.py"),
    ):
        src = open(path).read()
        assert "recommended_session_conf" in src, path
        assert "codegen.cache.maxEntries" not in src, (
            f"{path} re-hardcodes the codegen cache literal instead of "
            "consuming recommended_session_conf"
        )


def test_prep_is_memoized_until_marked_dirty(spark):
    """r16: prep() pins once per application and skips its seven py4j
    conf.set round trips on later calls — UNLESS a conf-mutating query
    (join_runtime_bloom's toggles) marked the session dirty, in which
    case the very next prep must re-pin the defaults."""
    from ingest_sharepoint_file_to_fabric_lakehouse_spark import core

    core.prep(spark)  # ensure pinned
    # memo active: an external (harness-level) mutation is NOT repaired
    # by a plain prep call...
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    core.prep(spark)
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "-1"
    # ...but a dirty mark forces the re-pin (the engine's own mutators
    # either restore in finally or call mark_conf_dirty)
    core.mark_conf_dirty(spark)
    core.prep(spark)
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "10MB"
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"

def test_mark_conf_dirty_is_per_application(spark):
    """r17 (ADVICE fix): the dirty mark must not be a process-global —
    marking session A dirty may not consume a mark another session
    relies on, and prep() on B must not clear A's mark.  The mark is
    now 'discard this app from the pinned set', so other apps' pins
    survive and this app's next prep re-pins."""
    from ingest_sharepoint_file_to_fabric_lakehouse_spark import core

    core.prep(spark)  # ensure pinned
    core._PREP_PINNED.add("some-other-application-id")
    core.mark_conf_dirty(spark)
    assert "some-other-application-id" in core._PREP_PINNED
    assert spark.sparkContext.applicationId not in core._PREP_PINNED
    core._PREP_PINNED.discard("some-other-application-id")
    core.prep(spark)  # re-pin for the rest of the suite
    assert spark.sparkContext.applicationId in core._PREP_PINNED


def test_tools_take_their_width_from_the_environment(monkeypatch):
    """No harness under tools/ may hard-code a ``local[<n>]`` master: a
    ``local[32]`` on a 4-CPU host runs every timing 8x oversubscribed.
    Widths come from ``core.session_cpus()``, i.e. $SPARK_GRAFT_CPUS or
    the CPUs the process may use."""
    import glob
    import os
    import re

    from ingest_sharepoint_file_to_fabric_lakehouse_spark.core import session_cpus

    tools = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    paths = sorted(glob.glob(os.path.join(tools, "*.py")))
    assert paths
    for path in paths:
        hits = re.findall(r"local\[\s*\d+\s*\]", open(path).read())
        assert not hits, f"{path} hard-codes a {hits[0]} master"

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session_cpus() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert session_cpus() == len(os.sched_getaffinity(0))


def test_no_harness_puts_a_literal_path_on_sys_path():
    """A literal absolute ``sys.path`` entry makes pytest or a tool run
    from a copied checkout import the original checkout's code instead
    of the copy's.  Every harness resolves its root from ``__file__``."""
    import glob
    import re

    literal = re.compile(r"""sys\.path\.(?:insert|append)\([^)]*?["']/""")
    paths = [os.path.join(ROOT, "bench.py"), os.path.join(ROOT, "__spark_entry__.py")]
    for d in ("tests", "tools", "setup"):
        paths += glob.glob(os.path.join(ROOT, d, "*.py"))
    for path in sorted(paths):
        for n, line in enumerate(open(path), 1):
            assert not literal.search(line), f"{path}:{n} puts a literal path on sys.path"
