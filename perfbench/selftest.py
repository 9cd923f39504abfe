"""Self-test of the benchmark, at tiny scale (a few thousand rows).

    python3 perfbench/selftest.py

Checks that
- both workloads, untraced and traced, print every metric that
  BENCHMARK.json names, with the unit it declares, and fail no op;
- one flipped byte in a blob of the table the scans read makes ``failed``
  (and so ``failed_share``) rise above 0 instead of passing silently;
- without the engine package next to it, the benchmark exits non-zero
  and prints no result.

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import inputs  # noqa: E402
import run  # noqa: E402

SECONDS = 3


def expected_units(trace: bool) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def flip_one_blob_byte(wl) -> None:
    """Corrupt the payload of the ``tokens`` blob of one stripe in place."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = sorted(glob.glob(os.path.join(wl.blob_dir, "*.parquet")))[0]
    table = pq.read_table(path)
    data = table.column("data").to_pylist()
    i = table.column("column").to_pylist().index("tokens")
    blob = bytearray(data[i])
    blob[len(blob) // 2] ^= 0x5A
    data[i] = bytes(blob)
    table = table.set_column(table.schema.get_field_index("data"), "data", pa.array(data, pa.binary()))
    pq.write_table(table, path)
    wl.blobs = wl.spark.read.parquet(wl.blob_dir)


def main() -> int:
    problems = []
    for workload in ("blob", "orc"):
        for trace in (False, True):
            result, lines = run.run(workload, 7, SECONDS, trace, scale=inputs.TINY)
            got = result["metrics"]
            for name, unit in expected_units(trace).items():
                if name not in got:
                    problems.append(f"{workload} trace={trace}: {name} not printed")
                elif got[name]["unit"] != unit:
                    problems.append(f"{workload} trace={trace}: {name} unit {got[name]['unit']} != {unit}")
            extra = set(got) - set(expected_units(trace))
            if extra:
                problems.append(f"{workload} trace={trace}: undeclared metrics {sorted(extra)}")
            if result["failed"] or not result["correct"]:
                problems.append(f"{workload} trace={trace}: {result['failed']} failed ops")
            print(f"{workload} trace={int(trace)}: {len(got)} metrics, "
                  f"{result['attempted']} ops, {result['failed']} failed", flush=True)

    result, lines = run.run("blob", 7, SECONDS, False, scale=inputs.TINY,
                            after_setup=flip_one_blob_byte)
    share = [ln for ln in lines if ln.startswith("failed_share")]
    print(f"corrupted blob: {result['failed']} of {result['attempted']} ops failed; {share}")
    if result["failed"] == 0 or result["correct"]:
        problems.append("a corrupted blob did not fail any op")

    bare = os.path.join(ROOT, ".perfbench_work", "selftest_bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "blob", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180,
    )
    shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or p.stdout.strip():
        problems.append(f"bare directory: exit {p.returncode}, stdout {p.stdout!r}")

    for p in problems:
        print("PROBLEM:", p)
    print("selftest", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
