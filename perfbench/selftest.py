"""Self-test of the benchmark's checking: with --inject-faults the second
operation answers wrongly and the third throws. Both must be counted as
failed, and neither may enter a timing.

    python3 perfbench/selftest.py [workload ...]    # default: both
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def check(workload):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "1", "--trace", "0",
                        "--inject-faults"], capture_output=True, text=True,
                       cwd=os.path.dirname(HERE))
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    record, result = json.loads(lines[-2]), json.loads(lines[-1])
    ops = record["ops"]
    bad = [o for o in ops if not o["correct"]]
    assert result["failed"] == 2 and not result["correct"], (result, record["failures"])
    assert result["attempted"] == len(ops)
    assert [ops.index(o) for o in bad] == [1, 2], record["failures"]
    assert bad[1]["error"] == "injected failure" and bad[0]["error"] is None
    timed = [o["dt_s"] for o in ops if o["correct"]]
    assert result["metrics"]["op_p50_s"]["value"] == statistics.median(timed)
    print(f"{workload}: ok ({len(ops)} operations, 2 failed, none of them timed)")


if __name__ == "__main__":
    for w in sys.argv[1:] or ["verbs", "curate"]:
        check(w)
