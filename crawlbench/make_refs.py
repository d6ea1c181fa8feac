"""Write wave_bench's reference outputs for the given seeds into refs.json.

Usage (from the repository root):

    python3 crawlbench/make_refs.py 0-63 201-210 7717

Each seed's wave runs once, in one Spark session, through the same set-up,
operation and invariant checks as a benchmark run; its output signature
(outcome counts and order-insensitive digests of the wave's fetchlog,
visited, results and next-frontier rows) replaces that seed's entry. The
benchmark then fails any operation whose outputs differ from the committed
ones. Regenerate only for a change that is meant to change what the crawl
fetches or writes, and say so where the change is described.
"""

from __future__ import annotations

import json
import shutil
import sys

import run


def parse_seeds(args: list[str]) -> list[int]:
    seeds: list[int] = []
    for a in args:
        lo, _, hi = a.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def main(argv: list[str]) -> int:
    seeds = parse_seeds(argv)
    if not seeds:
        print(__doc__, file=sys.stderr)
        return 2
    work = run.enter_workdir("refs")
    import workloads

    refs = run.load_refs()
    section = refs.setdefault(workloads.WaveBench.name, {})
    spark = run.start_session(work, False, workloads.CORES)
    try:
        for seed in seeds:
            wl = workloads.WaveBench(spark, seed, work, {})
            wl.setup()
            rec = wl.operation()
            problems = wl.check(rec)
            if problems:
                run.log(f"seed {seed}: FAILED: {problems}")
                return 1
            section[str(seed)] = rec["signature"]
            run.log(f"seed {seed}: {rec['signature']['outcomes']}")
            with open(run.REFS_PATH, "w") as fh:
                fh.write(dumps(refs))
    finally:
        run.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


def dumps(refs: dict) -> str:
    """JSON with one line per seed, so a changed seed is a one-line diff."""
    blocks = []
    for wl in sorted(refs):
        lines = [
            f"  {json.dumps(seed)}: {json.dumps(sig, sort_keys=True)}"
            for seed, sig in sorted(refs[wl].items(), key=lambda kv: int(kv[0]))
        ]
        blocks.append(f" {json.dumps(wl)}: {{\n" + ",\n".join(lines) + "\n }")
    return "{\n" + ",\n".join(blocks) + "\n}\n"


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
