"""Probe-gated bench runner (r6; VERDICT r5 next-round #2).

bench.py is FROZEN, so the gate lives in this wrapper: poll the same
pure-Python parallel-efficiency probe bench.py publishes, and only
launch a full bench pass inside a clean host window (eff >= --min-eff
at launch). Each sample records the probe before and after; a sample
only counts as CLEAN when both sides held the threshold (a mid-run
collapse shows up in the after-probe). Keeps the best clean sample.

    python BENCH/run_gated.py --min-eff 0.75 --samples 2 --max-wait 7200

Writes samples to BENCH/samples_r06/gated_NN.json and a summary line at
the end. Takes /tmp/nse_bench_gate.lock while a bench is running so
other tooling can avoid contending.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LOCK = "/tmp/nse_bench_gate.lock"


def _calib_work(_):
    x = 0
    for i in range(2_000_000):
        x += i * i % 7
    return x


def probe_eff(n_procs: int = 32) -> float:
    import multiprocessing as mp

    t0 = time.perf_counter()
    _calib_work(0)
    single = time.perf_counter() - t0
    with mp.get_context("fork").Pool(n_procs) as p:
        t0 = time.perf_counter()
        p.map(_calib_work, range(n_procs * 2))
        wall = time.perf_counter() - t0
    return round((n_procs * 2 * single) / (wall * n_procs), 3)


@contextlib.contextmanager
def gate_lock(path: str = LOCK):
    """Yield True while holding ``path``, False when another runner
    holds it. The file is created with O_EXCL, so two runners can never
    both hold it; it is removed on the way out."""
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
    except FileExistsError:
        yield False
        return
    try:
        with os.fdopen(fd, "w") as f:
            f.write(str(os.getpid()))
        yield True
    finally:
        os.remove(path)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--min-eff", type=float, default=0.75)
    ap.add_argument("--samples", type=int, default=2, help="clean samples to collect")
    ap.add_argument("--max-wait", type=float, default=7200, help="seconds")
    ap.add_argument("--poll", type=float, default=45)
    args = ap.parse_args()

    out_dir = os.path.join(REPO, "BENCH", "samples_r06")
    os.makedirs(out_dir, exist_ok=True)
    t_start = time.time()
    clean: list[dict] = []
    attempt = 0
    while len(clean) < args.samples and time.time() - t_start < args.max_wait:
        eff0 = probe_eff()
        if eff0 < args.min_eff:
            print(f"[gate] eff {eff0} < {args.min_eff}; waiting", flush=True)
            time.sleep(args.poll)
            continue
        with gate_lock() as held:
            if not held:
                print(f"[gate] {LOCK} is held by another runner; waiting", flush=True)
                time.sleep(args.poll)
                continue
            attempt += 1
            print(f"[gate] eff {eff0} — launching bench (attempt {attempt})", flush=True)
            t0 = time.time()
            r = subprocess.run(
                [sys.executable, os.path.join(REPO, "bench.py")],
                capture_output=True, text=True, timeout=1800,
            )
            wall = round(time.time() - t0, 1)
        eff1 = probe_eff()
        try:
            parsed = json.loads(r.stdout.strip().splitlines()[-1])
        except Exception:
            print(f"[gate] bench produced no JSON (rc={r.returncode})", flush=True)
            continue
        sample = {
            "eff_before": eff0, "eff_after": eff1, "wall_s": wall,
            "clean": eff1 >= args.min_eff, "parsed": parsed,
        }
        path = os.path.join(out_dir, f"gated_{attempt:02d}.json")
        json.dump(sample, open(path, "w"), indent=1)
        print(
            f"[gate] sample {attempt}: value={parsed['value']} "
            f"eff {eff0}->{eff1} clean={sample['clean']} -> {path}",
            flush=True,
        )
        if sample["clean"]:
            clean.append(sample)
    if clean:
        best = min(clean, key=lambda s: s["parsed"]["value"])
        print(json.dumps({
            "n_clean": len(clean),
            "best_value": best["parsed"]["value"],
            "best_eff": [best["eff_before"], best["eff_after"]],
        }))
    else:
        print(json.dumps({"n_clean": 0}))


if __name__ == "__main__":
    main()
