"""Check the traced run's per-entry job counts against tools/job_count.py.

Usage (from the repository root, after a traced run of the same workload,
seed and seconds):

    python3 perfbench/check_jobs.py --workload corpus_curation --seed 42 --seconds 10

Runs ``tools/job_count.py`` on the same input tree (the one generated for
``--seed``, or ``--tree``) and core count in a child process, reads the
traced run's per-entry records from
``perfbench/.work/traces/<workload>-<tree>.json`` and prints each
entry's two counts. ``job_count.py`` counts the jobs of the entry's job
group; the event-log fold also counts jobs submitted during the entry
under another group, such as a stream's micro-batch jobs, so for every
entry it prints how many of the folded jobs carried another group.
Exits 1 if any entry's counts differ for another reason.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench import datagen, engine, workloads  # noqa: E402

WORK = ROOT / "perfbench" / ".work"


def job_count(names: list[str], tree: Path) -> dict[str, int]:
    code = (
        "import sys; sys.path.insert(0, 'tools'); import job_count; "
        f"job_count.SF_DIR = {str(tree)!r}; sys.argv = ['job_count.py', *{names!r}]; "
        "raise SystemExit(job_count.main())"
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(engine.cpu_count()), TMPDIR=str(WORK / "tmp"),
               SPARK_LOCAL_DIRS=str(WORK / "spark-local"))
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, env=env, check=True,
                         stdout=subprocess.PIPE, text=True, timeout=900).stdout
    return {m[1]: int(m[2]) for m in re.finditer(r"^(\w+): (\d+) jobs", out, re.M)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--tree", type=lambda p: Path(p).resolve(), default=None,
                    help="the input directory the traced run was given with --tree")
    args = ap.parse_args()
    names = workloads.select(args.workload, args.seconds)
    tree = args.tree or datagen.ensure_tree(WORK / "data", args.seed)
    traced = json.loads((WORK / "traces" / f"{args.workload}-{tree.name}.json").read_text())
    counted = job_count(names, tree)
    unexplained = 0
    for name in names:
        rec = traced["entries"][name]
        other = rec["jobs_other_group"]
        note = "match" if rec["jobs"] == counted.get(name) else (
            f"{other} job(s) outside the entry's group (stream micro-batches)"
            if rec["jobs"] - other == counted.get(name) else "UNEXPLAINED")
        unexplained += note == "UNEXPLAINED"
        print(f"{name}: fold {rec['jobs']} job_count {counted.get(name)} — {note}")
    return 1 if unexplained else 0


if __name__ == "__main__":
    raise SystemExit(main())
