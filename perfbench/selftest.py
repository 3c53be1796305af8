"""Self-test of the benchmark: every workload at toy size, untraced and
traced, must pass its correctness checks and print exactly the metrics
BENCHMARK.json names, with their units, and a traced ``extract_resume``
run must report its dedup probe, and no process a run started may
outlive it. A copy of the benchmark alone (no package beside it) must
exit non-zero without printing a result.

    python3 perfbench/selftest.py            # from the repository root
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))


def _session_members(sid: int) -> list[int]:
    """Processes whose session id is ``sid``."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while we looked
        if int(fields[3]) == sid:
            out.append(int(name))
    return out


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    """One run in a session of its own; ``leftover`` lists the processes
    of that session still there after the run has exited."""
    cmd = [
        sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
        "--seed", "3", "--seconds", "1", "--trace", str(trace), "--toy",
    ]  # fmt: skip
    with subprocess.Popen(
        cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, start_new_session=True
    ) as proc:
        try:
            out, err = proc.communicate(timeout=300)
        except subprocess.TimeoutExpired:
            proc.kill()
            out, err = proc.communicate()
        res = subprocess.CompletedProcess(cmd, proc.returncode, out, err)
    res.leftover = _session_members(proc.pid)
    return res


def _check_result(spec: dict, workload: str, trace: int, res) -> list[str]:
    where = f"{workload} --trace {trace}"
    errors = [f"{where}: processes {res.leftover} outlived the run"] if res.leftover else []
    if res.returncode != 0:
        return errors + [f"{where}: exit {res.returncode}\n{res.stderr[-3000:]}"]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{where}: result keys {sorted(out)}")
    if out.get("correct") is not True or out.get("failed") != 0 or out.get("attempted", 0) < 1:
        errors.append(f"{where}: correct={out.get('correct')} failed={out.get('failed')}")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = out.get("metrics", {})
    if set(got) != set(want):
        errors.append(
            f"{where}: missing {sorted(set(want) - set(got))}, unexpected {sorted(set(got) - set(want))}"
        )
    for name, m in got.items():
        if name in want and m.get("unit") != want[name]:
            errors.append(f"{where}: {name} unit {m.get('unit')!r}, expected {want[name]!r}")
        if not isinstance(m.get("value"), (int, float)) or isinstance(m.get("value"), bool):
            errors.append(f"{where}: {name} value {m.get('value')!r} is not a number")
    if not trace:
        for name, m in got.items():
            if not m.get("value"):
                errors.append(f"{where}: end-to-end metric {name} is 0")
    elif workload == "extract_resume" and not got.get("dedup.cc_s", {}).get("value"):
        errors.append(f"{where}: the dedup probe reported no dedup.cc_s")
    return errors


def _check_bare_copy(root: str) -> list[str]:
    """The benchmark without the package must fail fast and print no
    result line."""
    bare = tempfile.mkdtemp(dir=os.path.join(root, ".perfbench_work"))
    try:
        shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
        res = _run(bare, "extract_fresh", 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if res.returncode == 0 or '"correct"' in res.stdout or res.leftover:
        return [f"bare copy: exit {res.returncode}, leftover {res.leftover}, stdout {res.stdout[-500:]!r}"]
    return []


def main() -> int:
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(os.path.join(root, ".perfbench_work"), exist_ok=True)
    sys.path.insert(0, root)
    from perfbench.workloads import WORKLOADS

    errors = _check_bare_copy(root)
    # every workload run.py knows, listed in BENCHMARK.json or not
    for name in WORKLOADS:
        for trace in (0, 1):
            res = _run(root, name, trace)
            errs = _check_result(spec, name, trace, res)
            print(f"{name} --trace {trace}: {'ok' if not errs else 'FAILED'}", flush=True)
            errors += errs
    for e in errors:
        print(e, file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
