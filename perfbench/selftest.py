#!/usr/bin/env python3
"""Quick self-test of the benchmark harness (a few minutes on 4 cores).

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json once untraced and once traced at
scale factor 0.001 with a short run, and asserts that:
  - the last stdout line has exactly the keys correct/attempted/failed/metrics,
    the run is correct, and every metric BENCHMARK.json names for that mode
    is printed with its unit;
  - batch outputs match the fingerprints recorded in expected_fingerprints.json;
  - a deliberately corrupted expected fingerprint is reported as a failure.
"""
import json
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
FINGERPRINTS = BENCH / "expected_fingerprints.json"
SF, SEED = "0.001", "0"


def run(workload, trace, *extra):
    cmd = [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", SEED,
           "--seconds", "5" if workload == "river_stream" else "1", "--trace", str(trace),
           "--sf", SF, *extra]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, f"{' '.join(cmd)} exited {r.returncode}:\n{r.stderr[-3000:]}"
    return json.loads(r.stdout.strip().splitlines()[-1]), r.stderr


def check_metrics(out, wanted, label):
    assert set(out) == {"correct", "attempted", "failed", "metrics"}, f"{label}: keys {set(out)}"
    assert out["attempted"] >= 1, f"{label}: nothing attempted"
    missing = [m["name"] for m in wanted if m["name"] not in out["metrics"]]
    assert not missing, f"{label}: metrics not printed: {missing}"
    for m in wanted:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], f"{label}: {m['name']} unit {got['unit']} != {m['unit']}"
        assert isinstance(got["value"], float), f"{label}: {m['name']} value {got['value']!r}"


def main():
    cfg = json.loads((ROOT / "BENCHMARK.json").read_text())
    fingerprints = json.loads(FINGERPRINTS.read_text())
    work = BENCH / ".work"
    work.mkdir(exist_ok=True)
    corrupted = work / "corrupted_fingerprints.json"
    for wl in (w["name"] for w in cfg["workloads"]):
        batch = wl != "river_stream"
        extra = ["--expect", str(FINGERPRINTS)] if batch else []
        out, _ = run(wl, 0, *extra)
        check_metrics(out, cfg["end_to_end"], f"{wl} untraced")
        assert out["correct"] and out["failed"] == 0, f"{wl} untraced: {out}"
        print(f"ok  {wl}: untraced run correct, {len(cfg['end_to_end'])} end-to-end metrics")
        if batch:
            # corrupt the first recorded fingerprint of this workload
            key = next(k for k in sorted(fingerprints) if k.startswith(f"sf{SF}/seed{SEED}/")
                       and k.rsplit("/", 1)[1] in workload_queries(wl))
            bad = dict(fingerprints)
            bad[key] = "corrupted:" + bad[key]
            corrupted.write_text(json.dumps(bad))
            extra = ["--expect", str(corrupted)]
        out, err = run(wl, 1, *extra)
        check_metrics(out, cfg["per_layer"], f"{wl} traced")
        if batch:
            assert not out["correct"] and out["failed"] >= 1, \
                f"{wl}: corrupted fingerprint for {key} not reported: {out}"
            assert "fingerprint" in err, f"{wl}: no fingerprint message on stderr"
            print(f"ok  {wl}: traced run prints {len(cfg['per_layer'])} per-layer metrics; "
                  f"corrupted fingerprint of {key.rsplit('/', 1)[1]} reported as a failure")
        else:
            assert out["correct"], f"{wl} traced: {out}"
            print(f"ok  {wl}: traced run correct, {len(cfg['per_layer'])} per-layer metrics")
    corrupted.unlink(missing_ok=True)
    print("self-test passed")


def workload_queries(wl):
    sys.path.insert(0, str(BENCH))
    import run as runner
    return runner.WORKLOADS[wl]


if __name__ == "__main__":
    main()
