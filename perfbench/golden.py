"""Record the reference pyramid digests of the ``render`` workload.

    python3 perfbench/golden.py FIRST_SEED LAST_SEED

Run from the repository root.  For each seed it writes the workload's
GPX inputs, renders them with the repository's reference renderer (the
per-tile sequential cogroup fold, ``Render.reference_pngs``) and stores
the decoded-pixel digest in ``golden_digests.json``, which ``run.py``
compares every rendered pyramid against.  Seeds 0-63 cover every input
set of the workload (``render.INPUT_SETS``); an input set missing from
the file is checked against a reference render made during the run.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    first, last = int(sys.argv[1]), int(sys.argv[2])
    root = os.getcwd()
    sys.path[:0] = [HERE, root, os.path.join(root, "tools")]
    from harness import configure_env, start_session
    from render import GOLDEN, Render
    from run import stop_session

    work = os.path.join(root, ".perfbench", f"golden-{os.getpid()}")
    configure_env(work, None)
    spark = start_session()
    try:
        with open(GOLDEN) as f:
            golden = json.load(f)
        for seed in range(first, last + 1):
            wl = Render(spark, work, seed)
            wl.write_inputs()
            digest, errors = wl.pixel_digest(wl.reference_pngs())
            if errors:
                raise RuntimeError(f"seed {seed}: {errors[:3]}")
            golden[wl.golden_key()] = digest
            with open(GOLDEN, "w") as f:
                json.dump(golden, f, indent=0, sort_keys=True)
                f.write("\n")
            print(wl.golden_key(), digest, flush=True)
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
