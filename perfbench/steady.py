"""Steadiness tooling: repeated runs, their spread, and two sets compared.

    # ten runs of one workload, one seed each; reports kept in DIR
    python3 perfbench/steady.py run --workload serve --seeds 1-10 --dir DIR
    # median, quartiles and spread of every metric of the runs in DIR
    python3 perfbench/steady.py summary DIR
    # second set against the first, against the bounds of BENCHMARK.json
    python3 perfbench/steady.py compare DIR_A DIR_B
    # tracing overhead: traced minus untraced, per workload
    python3 perfbench/steady.py overhead DIR_UNTRACED DIR_TRACED

Spread is (q3 - q1) / median with the quartiles of
statistics.quantiles(values, n=4). A metric is steady when its spread is
within its bound (setup_s is exempt, and reported on a line of its own);
the target while tuning is a third of the bound. Metrics are recomputed from
each run's raw record, so a changed metric definition needs no new runs.

`run` also records, per run, the hypervisor steal time (the share of CPU
time /proc/stat counts as stolen while the run lasted), so a set taken
while the host was busy shows in its summary.
"""

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import metrics  # noqa: E402

ROOT = HERE.parent


def bench():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def load(dirpath):
    """{workload: [result, ...]} of the reports in a directory, recomputed;
    each result also carries its run's seed and steal_pct."""
    sets = {}
    for f in sorted(Path(dirpath).glob("*.json")):
        rep = json.loads(f.read_text())
        result = metrics.summarize(rep["raw"])[0]
        result["seed"] = rep["raw"]["seed"]
        result["steal_pct"] = rep.get("steal_pct")
        sets.setdefault(rep["raw"]["workload"], []).append(result)
    return sets


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def cpu_ticks():
    """(steal, total) CPU ticks of the whole host, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7], sum(fields[:8])


def cmd_run(a):
    out = Path(a.dir)
    out.mkdir(parents=True, exist_ok=True)
    seconds = a.seconds or bench()["run_seconds"]
    for s in seeds(a.seeds):
        report = out / f"{a.workload}-{s}-t{a.trace}.json"
        steal0, total0 = cpu_ticks()
        proc = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", a.workload, "--seed", str(s),
             "--seconds", str(seconds), "--trace", str(a.trace), "--report", str(report)],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        steal1, total1 = cpu_ticks()
        steal = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
        if report.is_file():
            rep = json.loads(report.read_text())
            rep["steal_pct"] = steal
            report.write_text(json.dumps(rep, indent=1))
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
        print(f"seed {s}: exit {proc.returncode} steal {steal:.1f}% {last}", flush=True)
    cmd_summary(argparse.Namespace(dir=a.dir))


def cmd_summary(a):
    b = bench()
    bounds = {m["name"]: m.get("bound") for m in b["end_to_end"]}
    worst, setup_worst = 0.0, 0.0
    for w, results in load(a.dir).items():
        bad = sum(r["failed"] for r in results)
        print(f"{w}: {len(results)} runs, {bad} failed answers")
        steals = [r["steal_pct"] for r in results if r["steal_pct"] is not None]
        if steals:
            print(f"  steal % per run: " + " ".join(
                f"{r['seed']}:{r['steal_pct']:.1f}" for r in results
                if r["steal_pct"] is not None) + f"  (max {max(steals):.1f})")
        for m in results[0]["metrics"]:
            vals = [r["metrics"][m]["value"] for r in results]
            if len(vals) < 2:
                continue
            med, q1, q3, sp = spread(vals)
            bound = bounds.get(m)
            flag = ""
            if bound is not None:
                flag = "ok" if sp <= bound / 3 else ("within bound" if sp <= bound else "UNSTEADY")
                if m == "setup_s":
                    setup_worst = max(setup_worst, sp / bound)
                else:
                    worst = max(worst, sp / bound)
            print(f"  {m:34s} median {med:11.5g}  q1 {q1:11.5g}  q3 {q3:11.5g}  "
                  f"spread {sp:6.3f}  bound {bound if bound is not None else '-':>5}  {flag}")
    print(f"largest spread / bound (setup_s exempt): {worst:.3f}")
    print(f"setup_s spread / bound: {setup_worst:.3f}")


def cmd_compare(a):
    b = bench()
    info = {m["name"]: m for m in b["end_to_end"]}
    first, second = load(a.first), load(a.second)
    ok = True
    for w in sorted(first):
        print(w)
        for m, spec in info.items():
            x = statistics.median(r["metrics"][m]["value"] for r in first[w])
            y = statistics.median(r["metrics"][m]["value"] for r in second.get(w, []))
            worse = (y - x) / x if spec["better"] == "lower" else (x - y) / x
            good = worse <= spec["bound"]
            ok &= good
            print(f"  {m:34s} first {x:11.5g}  second {y:11.5g}  worse by {worse:+7.3f}  "
                  f"bound {spec['bound']}  {'ok' if good else 'REGRESSED'}")
    print("agree within bounds" if ok else "DISAGREE")
    return 0 if ok else 1


def cmd_overhead(a):
    plain, traced = load(a.untraced), load(a.traced)
    for w in sorted(plain):
        for m, tm in (("ops_per_s", "trace.ops_per_s"), ("p50_s", "trace.p50_s")):
            x = statistics.median(r["metrics"][m]["value"] for r in plain[w])
            y = statistics.median(r["metrics"][tm]["value"] for r in traced.get(w, []))
            print(f"{w:8s} {m:10s} untraced {x:9.4g}  traced {y:9.4g}  "
                  f"traced - untraced {y - x:+9.4g} ({(y - x) / x:+.1%})")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--seconds", type=float)
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r.add_argument("--dir", required=True)
    s = sub.add_parser("summary")
    s.add_argument("dir")
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    o = sub.add_parser("overhead")
    o.add_argument("untraced")
    o.add_argument("traced")
    a = ap.parse_args(argv)
    return {"run": cmd_run, "summary": cmd_summary, "compare": cmd_compare,
            "overhead": cmd_overhead}[a.cmd](a) or 0


if __name__ == "__main__":
    sys.exit(main())
