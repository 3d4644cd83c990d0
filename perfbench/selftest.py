"""Self-test for the benchmark: one run of every workload.

    python3 perfbench/selftest.py            # tiny inputs
    python3 perfbench/selftest.py --full     # the benchmark's inputs

For each workload in BENCHMARK.json it runs ``run.py`` with one pass,
untraced and traced, prints every metric with its unit, and checks
that:

* the run exits 0 and its last stdout line is the result JSON, with
  ``failed == 0`` (``fail_ratio`` is 0);
* the untraced run prints every ``end_to_end`` metric and the traced
  run every ``per_layer`` metric, each with the unit BENCHMARK.json
  names;
* every span's self time is non-negative and, within each pass, the
  self times sum to the duration of the pass's root span.

Exits 0 when every check holds, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from spans import Span, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(HERE, ".work", "results")
SEED = 7


def _run(workload: str, trace: int, tiny: bool) -> tuple[dict | None, list[str]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace)]
        + (["--tiny"] if tiny else []),
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    errors = []
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    if proc.returncode != 0:
        errors.append(f"exit code {proc.returncode}: {proc.stderr[-2000:]}")
    if result is None:
        errors.append("no result line")
    elif result["failed"] != 0:
        errors.append(f"failed {result['failed']} of {result['attempted']}")
    return result, errors


def _check_metrics(result: dict, wanted: list[dict]) -> list[str]:
    got = result["metrics"]
    errors = [f"metric {m['name']} missing" for m in wanted
              if m["name"] not in got]
    errors += [f"metric {m['name']} unit {got[m['name']]['unit']} != {m['unit']}"
               for m in wanted
               if m["name"] in got and got[m["name"]]["unit"] != m["unit"]]
    extra = set(got) - {m["name"] for m in wanted}
    if extra:
        errors.append(f"metrics not in BENCHMARK.json: {sorted(extra)}")
    return errors


def _check_spans(path: str) -> list[str]:
    tracer = Tracer()
    with open(path) as f:
        tracer.spans = [Span(**s) for s in json.load(f)]
    self_s = tracer.self_times()
    errors = [f"span {s.name} has negative self time {self_s[s.id]}"
              for s in tracer.spans if self_s[s.id] < -1e-9]
    roots = [s for s in tracer.spans if s.parent is None and s.pass_id >= 0]
    if not roots:
        errors.append("no pass spans")
    for root in roots:
        total = sum(self_s[s.id] for s in tracer.spans
                    if s.pass_id == root.pass_id)
        if abs(total - (root.end - root.start)) > 1e-6:
            errors.append(f"pass {root.pass_id}: self times sum to {total}, "
                          f"root span lasts {root.end - root.start}")
    return errors


def main() -> int:
    tiny = "--full" not in sys.argv[1:]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    failures = []
    for w in bench["workloads"]:
        name = w["name"]
        for trace, wanted in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            result, errors = _run(name, trace, tiny)
            if result is not None:
                errors += _check_metrics(result, wanted)
                for k, m in result["metrics"].items():
                    print(f"{name} trace={trace} {k} = {m['value']} {m['unit']}")
            if trace:
                errors += _check_spans(os.path.join(
                    RESULTS, f"{name}-seed{SEED}{'-tiny' if tiny else ''}"
                             f"-spans.json"))
            failures += [f"{name} trace={trace}: {e}" for e in errors]
    for f in failures:
        print(f"FAIL {f}")
    print("selftest:", "FAILED" if failures else "ok")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
