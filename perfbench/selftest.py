"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py

1. The oracle, offline: it agrees with the generator's own live table,
   and a changed value, a dropped row or an extra row makes it disagree.
2. Every workload end to end at a tiny scale (``--scale 0.05``, two
   timed passes): the run is correct, no operation fails, and the output
   names exactly the metrics BENCHMARK.json declares, untraced and
   traced.
3. A corrupted expected state makes a run report ``correct: false``:
   once for the final-state oracle, once for the per-pass read checks.

Exits 0 when every check holds; prints one line per check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import pandas as pd  # noqa: E402

import gen  # noqa: E402

TINY = ["--seed", "7", "--seconds", "6", "--scale", "0.05"]


def _declared() -> tuple[set[str], set[str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"] for m in spec["end_to_end"]},
            {m["name"] for m in spec["per_layer"]})


def _bench(*args: str) -> dict:
    """Run the benchmark (or this file's corrupting wrapper) and parse
    its last stdout line."""
    proc = subprocess.run([sys.executable, *args], capture_output=True,
                          text=True, timeout=600, cwd=ROOT)
    if proc.returncode != 0:
        raise RuntimeError(f"{args} exited {proc.returncode}: {proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_oracle_offline() -> None:
    tmp = os.path.join(ROOT, ".perfbench", "selftest")
    shutil.rmtree(tmp, ignore_errors=True)
    spec = gen.TABLES["customer"]
    hist = gen.TableHistory(spec, seed=3, scale=0.05)
    load = f"{tmp}/{gen.load_name(1)}"
    gen.write_parquet(hist.initial(), load)
    cdcs = []
    for i in range(1, 6):
        cdcs.append(f"{tmp}/{gen.cdc_name(i)}")
        gen.write_parquet(hist.next_batch(gen.ChangeMix(frac=0.05)), cdcs[-1])
    want = gen.expected_state(spec, [load], cdcs)
    own = gen.normalize(hist.initial(), spec.pk)
    assert gen.mismatch(want, own) == "", gen.mismatch(want, own)
    changed = own.copy()
    changed.loc[3, "c_acctbal"] += 0.01
    assert gen.mismatch(want, changed), "a changed value went unnoticed"
    assert gen.mismatch(want, own.drop(index=5).reset_index(drop=True)), \
        "a dropped row went unnoticed"
    extra = gen.normalize(pd.concat([own, own.iloc[[0]]]), spec.pk)
    assert gen.mismatch(want, extra), "an extra row went unnoticed"
    shutil.rmtree(tmp, ignore_errors=True)


def check_workloads(end_to_end: set[str], per_layer: set[str]) -> None:
    import workloads

    for name in workloads.SHAPES:
        for trace, want in ((0, end_to_end), (1, per_layer)):
            out = _bench("perfbench/run.py", "--workload", name,
                         "--trace", str(trace), *TINY)
            assert out["correct"] and out["failed"] == 0, (name, trace, out)
            assert set(out["metrics"]) == want, (
                name, trace, sorted(set(out["metrics"]) ^ want))
            print(f"ok   {name} trace={trace}: correct, {out['attempted']} operations")


def check_corruption_caught() -> None:
    for workload, what in (("trickle_multi", "final"), ("stream_mor_reads", "reads")):
        out = _bench("perfbench/selftest.py", "--corrupt", what,
                     "--workload", workload, *TINY)
        assert out["correct"] is False, (workload, what, out)
        print(f"ok   corrupted {what} expectations on {workload} -> correct=false")


def run_corrupted(what: str, argv: list[str]) -> int:
    """Run the benchmark in this process with a wrong expected state."""
    import run
    import workloads

    if what == "final":
        real = gen.expected_state

        def wrong_state(spec, *args, **kwargs):
            frame = real(spec, *args, **kwargs)
            col = next(c for c in frame.columns
                       if c not in spec.pk and frame[c].dtype.kind in "if")
            frame.loc[0, col] += 1
            return frame

        gen.expected_state = wrong_state
    else:
        real_probe = workloads.Staged._probe

        def wrong_probe(h, rng):
            probe = real_probe(h, rng)
            n, s, p = probe["agg"]
            probe["agg"] = (n + 1, s, p)
            return probe

        workloads.Staged._probe = staticmethod(wrong_probe)
    return run.main(argv)


def main() -> int:
    if len(sys.argv) > 2 and sys.argv[1] == "--corrupt":
        return run_corrupted(sys.argv[2], sys.argv[3:])
    end_to_end, per_layer = _declared()
    check_oracle_offline()
    print("ok   oracle agrees with the generator and catches changed/dropped/extra rows")
    check_workloads(end_to_end, per_layer)
    check_corruption_caught()
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
