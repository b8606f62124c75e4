"""Engine-owned scratch space: one collision-free data-dir tag and one
per-process root that its creator removes at exit (the gate that keeps
the policy in ``scratch.py`` is in test_contracts.py)."""

import os
import re
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import _content_hash  # noqa: E402
from hadoop_fs_ceph_spark import scratch  # noqa: E402
from hadoop_fs_ceph_spark.registry import load_all  # noqa: E402


def _python(code: str, *args: str, timeout: int = 60) -> subprocess.CompletedProcess:
    env = dict(os.environ, PYTHONPATH=ROOT)
    return subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code), *args],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=timeout,
    )


def test_same_basename_data_dirs_get_distinct_tags_and_paths():
    a, b = "/data/east/sf0.1", "/data/west/sf0.1"
    assert scratch.tag(a) != scratch.tag(b)
    assert scratch.tag(a).startswith("sf0_1_") and scratch.tag(b).startswith("sf0_1_")
    assert re.fullmatch(r"sf0_1_[0-9a-f]{8}", scratch.tag(a))
    assert scratch.tag(a) == scratch.tag(a + "/")  # normalized
    assert scratch.path(a, "t") != scratch.path(b, "t")
    assert scratch.path(a, "t") == scratch.path(a, "t")  # stable in-process
    assert os.path.dirname(os.path.dirname(scratch.path(a, "t"))) == scratch.root()


def test_fresh_returns_distinct_empty_dirs_under_one_root():
    p, q = scratch.fresh("sink"), scratch.fresh("sink")
    assert p != q
    for d in (p, q):
        assert os.path.isdir(d) and not os.listdir(d)
        assert os.path.dirname(d) == scratch.root()
        assert os.path.basename(d).startswith("sink-")
    assert os.path.basename(scratch.root()).startswith("hfcs-")
    # a fresh dir used as a data dir (bench.py's soak and skew tiers) still
    # tags into a valid table identifier
    assert scratch.tag(p).isidentifier()


def test_root_is_removed_at_exit_only_by_the_process_that_made_it():
    """A forked child makes its own root and removes only that one; the
    parent's root survives the child and is gone once the parent exits."""
    proc = _python(
        """
        import os, sys
        from hadoop_fs_ceph_spark import scratch

        mine = scratch.fresh("sink")
        open(os.path.join(mine, "f"), "w").close()
        r, w = os.pipe()
        pid = os.fork()
        if pid == 0:
            os.close(r)
            os.write(w, scratch.root().encode())
            sys.exit(0)
        os.close(w)
        child_root = os.read(r, 4096).decode()
        os.waitpid(pid, 0)
        print(scratch.root())
        print(child_root)
        print(os.path.exists(child_root), os.path.exists(mine))
        """
    )
    assert proc.returncode == 0, proc.stderr
    parent_root, child_root, alive = proc.stdout.strip().splitlines()
    assert parent_root != child_root
    assert alive == "False True"
    assert not os.path.exists(parent_root)


def test_child_q14_layout_build_leaves_parent_layout_intact(spark, sf_dir):
    """A second process building the Q14 bucketed layout on the SAME data
    dir writes under its own scratch root: the parent's bucket files are
    untouched, so its Q14 answer is unchanged, and the child's root is
    gone once it exits."""
    q14 = load_all()["ds_tpcds_q14_bucketed"].fn
    before = _content_hash(q14(spark, sf_dir))
    proc = _python(
        """
        import sys
        from hadoop_fs_ceph_spark import scratch
        from hadoop_fs_ceph_spark.operators.tpcds import ensure_q14_layout
        from hadoop_fs_ceph_spark.session import get_spark

        spark = get_spark("q14-layout-child", master="local[2]",
                          shuffle_partitions=4, driver_memory="1g")
        ensure_q14_layout(spark, sys.argv[1])
        print(scratch.root())
        """,
        sf_dir,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    child_root = proc.stdout.strip().splitlines()[-1]
    assert _content_hash(q14(spark, sf_dir)) == before
    assert os.path.basename(child_root).startswith("hfcs-")
    assert child_root != scratch.root()
    assert not os.path.exists(child_root)
