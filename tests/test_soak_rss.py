"""tools/soak.py's RSS sampler counts the soak's own process tree:
its children, not other processes of the same user."""

from __future__ import annotations

import os
import signal
import subprocess
import sys

from tools.soak import RssSampler

# a child that holds 64 MiB of touched pages until killed
_HOLD = (
    "import time; b = bytearray(64 << 20); b[::4096] = b'x' * len(b[::4096]);"
    " print('ready', flush=True); time.sleep(60)"
)
# starts _HOLD in its own session and exits, so the holder is
# re-parented out of this process tree
_ORPHAN = (
    "import subprocess, sys;"
    f" p = subprocess.Popen([sys.executable, '-c', {_HOLD!r}],"
    " stdout=subprocess.PIPE, text=True, start_new_session=True);"
    " p.stdout.readline(); print(p.pid, flush=True)"
)


def test_rss_sampler_counts_only_its_process_tree():
    base = RssSampler._total_rss_kb()
    child = subprocess.Popen(
        [sys.executable, "-c", _HOLD], stdout=subprocess.PIPE, text=True
    )
    try:
        child.stdout.readline()
        in_tree = RssSampler._total_rss_kb()
    finally:
        child.kill()
        child.wait()
    starter = subprocess.Popen(
        [sys.executable, "-c", _ORPHAN], stdout=subprocess.PIPE, text=True
    )
    orphan = int(starter.stdout.readline())
    starter.wait()
    try:
        out_of_tree = RssSampler._total_rss_kb()
    finally:
        os.kill(orphan, signal.SIGKILL)
    assert in_tree - base > 60 * 1024, (base, in_tree)
    assert out_of_tree - base < 30 * 1024, (base, out_of_tree)
