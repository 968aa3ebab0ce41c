"""Scratch space under concurrent harnesses: each process writes its
source-query round-trips and its s14 bucketed-table warehouse under its
own ``.scratch/<pid>/`` namespace, so a pytest sweep and
``tools/check_correctness.py`` running side by side never delete each
other's live output."""

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# one _tmpdir("sX_") path per stdin line (plus one at start), created
# and printed; exits when stdin closes
CALLER = textwrap.dedent(f"""
    import os, sys
    sys.path.insert(0, {REPO!r})
    from pravega_flink_ai_flow_spark.queries import sources
    sources._SCRATCH = sys.argv[1]

    def fresh():
        p = sources._tmpdir("sX_")
        os.makedirs(p)
        print(p, flush=True)

    fresh()
    for _ in sys.stdin:
        fresh()
""")


def _start(root):
    return subprocess.Popen([sys.executable, "-c", CALLER, root],
                            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                            text=True)


def test_concurrent_callers_keep_each_others_scratch(tmp_path):
    root = str(tmp_path)
    a = _start(root)
    b = None
    try:
        a_first = a.stdout.readline().strip()
        # B's first call runs while A's output is live
        b = _start(root)
        b_first = b.stdout.readline().strip()
        assert os.path.isdir(a_first) and os.path.isdir(b_first)

        # A's second run of the same query replaces its own leftover
        # and leaves B's live dir alone
        a.stdin.write("\n")
        a.stdin.flush()
        a_second = a.stdout.readline().strip()
        assert os.path.isdir(a_second) and os.path.isdir(b_first)
        assert not os.path.exists(a_first)
    finally:
        for p in (a, b):
            if p is not None:
                p.stdin.close()
                p.wait(timeout=60)
    assert (a.returncode, b.returncode) == (0, 0)

    # a later process drops the namespaces of the two dead ones
    subprocess.run([sys.executable, "-c", CALLER, root], input="",
                   text=True, check=True, timeout=60)
    assert not os.path.exists(os.path.dirname(a_first))
    assert not os.path.exists(os.path.dirname(b_first))


# Per stdin line (plus one at start) does what s14 does to a table its
# own catalog does not know: deletes its files in the warehouse, then
# writes them. Prints the table dir; exits when stdin closes.
WAREHOUSE_CALLER = textwrap.dedent(f"""
    import os, shutil, sys
    sys.path.insert(0, {REPO!r})
    from pravega_flink_ai_flow_spark.queries import sources
    sources._SCRATCH = sys.argv[1]

    def rewrite():
        table = os.path.join(sources._s14_warehouse(), "orders_b_sf_8")
        shutil.rmtree(table, ignore_errors=True)
        os.makedirs(table)
        with open(os.path.join(table, "part-0"), "w") as f:
            f.write(str(os.getpid()))
        print(table, flush=True)

    rewrite()
    for _ in sys.stdin:
        rewrite()
""")


def test_concurrent_callers_keep_their_own_s14_warehouse(tmp_path):
    root = str(tmp_path)
    procs = []
    try:
        for _ in range(2):
            procs.append(subprocess.Popen(
                [sys.executable, "-c", WAREHOUSE_CALLER, root],
                stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True))
        a, b = procs
        a_table = a.stdout.readline().strip()
        b_table = b.stdout.readline().strip()
        # B rewrites its table while A's is live, then A rewrites its own
        b.stdin.write("\n")
        b.stdin.flush()
        assert b.stdout.readline().strip() == b_table
        a.stdin.write("\n")
        a.stdin.flush()
        assert a.stdout.readline().strip() == a_table
        assert a_table != b_table
        for proc, table in ((a, a_table), (b, b_table)):
            assert os.path.dirname(os.path.dirname(table)) == \
                os.path.join(root, str(proc.pid))
            with open(os.path.join(table, "part-0")) as f:
                assert f.read() == str(proc.pid)
    finally:
        for p in procs:
            p.stdin.close()
            p.wait(timeout=60)
    assert [p.returncode for p in procs] == [0, 0]
