"""The `__spark_entry__` queries keep their stream sources, state and
checkpoints under one per-process temporary root, removed at exit."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_temp_root_removed_at_exit(tmp_path):
    script = (
        "import __spark_entry__ as e\n"
        "dirs = [e._temp_dir('dash_a_'), e._temp_dir('dash_b_')]\n"
        "open(dirs[0] + '/f', 'w').write('x')\n"
        "print(e._temp_root())\n"
        "print(*dirs, sep='\\n')\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=REPO, env=env, capture_output=True, text=True, check=True,
    ).stdout.split()
    root, dirs = out[0], out[1:]
    assert os.path.dirname(root) == str(tmp_path)
    assert len(dirs) == 2 and all(os.path.dirname(d) == root for d in dirs)
    assert not os.path.exists(root)
    assert os.listdir(tmp_path) == []
