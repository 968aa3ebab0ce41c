"""Scratch space under concurrent harnesses: each process writes its
source-query round-trips under its own ``.scratch/<pid>/`` namespace, so
a pytest sweep and ``tools/check_correctness.py`` running side by side
never delete each other's live output."""

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
