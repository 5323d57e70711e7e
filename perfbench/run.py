#!/usr/bin/env python3
"""The andlspark benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload <relq|fixpoint|catalog_rw>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the library and the benchmark
from source (perfbench/build.py), runs the workload in one JVM against a
fresh warehouse, local dir and catalog dir (removed afterwards), checks
every op's result, prints each metric by name with its unit and op count,
and ends with one JSON line. `--trace 1` reports the per-layer metrics
instead and writes them, with the tracing overhead against the last
untraced run of the same workload, to .bench_build/perfbench/. The exit
code is 0 only when every op was correct. perfbench/README.md describes
the workloads and metrics.
"""
import argparse
import ast
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # write nothing into the benchmark's own directory
import build  # noqa: E402

WORKLOADS = ("relq", "fixpoint", "catalog_rw")
JVM_ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
DEADLINE_S = 170


def fail(msg: str) -> None:
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def load_canon(root: Path):
    """The canonicalization of tools/diffcheck.py, taken from its source
    (that script runs on import, so only its `canon` function is executed)."""
    import numpy as np
    import pandas as pd
    path = root / "tools" / "diffcheck.py"
    tree = ast.parse(path.read_text())
    fn = next(n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "canon")
    ns = {"pd": pd, "np": np}
    exec(compile(ast.Module(body=[fn], type_ignores=[]), str(path), "exec"), ns)
    return ns["canon"]


def check_relq(root: Path, run_dir: Path) -> list:
    """Run each relq op's SQL in DuckDB over the same generated CSV files
    and compare with the gateway's reply under diffcheck's canonicalization.
    Numbers are compared as doubles: Andl widens every number to one."""
    import duckdb
    import pandas as pd
    canon = load_canon(root)
    con = duckdb.connect()
    for f in sorted(run_dir.glob("*.csv")):
        # the header's `name:type` pairs give Andl the types; DuckDB gets the names
        with open(f) as fh:
            names = [c.split(":")[0] for c in fh.readline().strip().split(",")]
        con.execute(f"CREATE TABLE {f.stem} AS SELECT * FROM read_csv('{f}', header=true, "
                    f"names={names!r})")

    def as_float(df):
        for c in df.columns:
            if pd.api.types.is_numeric_dtype(df[c]) and not pd.api.types.is_bool_dtype(df[c]):
                df[c] = df[c].astype("float64")
        return df

    wanted, failures = {}, []
    for line in (run_dir / "relq_results.jsonl").read_text().splitlines():
        if not line.strip():
            continue
        rec = json.loads(line)
        if rec["sql"] not in wanted:
            wanted[rec["sql"]] = canon(as_float(con.execute(rec["sql"]).df()))
        want = wanted[rec["sql"]]
        rows = rec["rows"]
        if not rows:
            if len(want):
                failures.append(f"op {rec['i']} ({rec['kind']}): 0 rows, want {len(want)}")
            continue
        got = canon(as_float(pd.DataFrame(rows)))
        if list(got.columns) != list(want.columns) or len(got) != len(want) \
                or not got.equals(want):
            failures.append(f"op {rec['i']} ({rec['kind']}): reply differs from DuckDB "
                            f"({len(got)} rows vs {len(want)})")
    return failures


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = Path.cwd()
    spec_path = root / "BENCHMARK.json"
    if not (root / "src" / "main" / "scala" / "graft").is_dir() or not spec_path.is_file():
        fail("run from the root of an andlspark checkout (src/main/scala/graft and "
             "BENCHMARK.json not found)")
    if not build.spark_jars().is_dir():
        fail("Spark jars not found: set SPARK_HOME or put spark-submit on PATH")
    spec = json.loads(spec_path.read_text())

    build_dir = root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    classpath = build.build(root, build_dir)
    t_start = time.monotonic()  # a first run may build for minutes; the run itself gets DEADLINE_S

    run_dir = build_dir / "runs" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    cores = len(os.sched_getaffinity(0))
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir / 'tmp'}"]
    for p in JVM_ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--out", str(run_dir), "--cores", str(cores)]
    log_path = run_dir / "jvm.log"
    # a terminated benchmark still stops its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
            try:
                code = proc.wait(timeout=max(10, DEADLINE_S - (time.monotonic() - t_start)))
            except subprocess.TimeoutExpired:
                code = "timeout"
        result_path = run_dir / "result.json"
        if code != 0 or not result_path.exists():
            sys.stderr.write(log_path.read_text()[-4000:])
            fail(f"benchmark JVM ended with {code}")
        res = json.loads(result_path.read_text())
        failures = list(res["failures"])
        failed = res["failed"]
        if a.workload == "relq":
            bad = check_relq(root, run_dir)
            failed += len(bad)
            failures += bad
            res["extra_metrics"]["error_rate"]["value"] = failed / res["attempted"]
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        out_dir = build_dir / "perfbench"
        out_dir.mkdir(parents=True, exist_ok=True)
        if log_path.exists():
            shutil.copy(log_path, out_dir / f"{a.workload}.trace{a.trace}.jvm.log")
        shutil.rmtree(run_dir, ignore_errors=True)

    ops = res["attempted"]
    e2e = {m["name"]: {"value": res["metrics"][m["name"]]["value"], "unit": m["unit"]}
           for m in spec["end_to_end"]}
    (out_dir / f"{a.workload}.trace{a.trace}.result.json").write_text(json.dumps(res, indent=1))
    print(f"workload {a.workload}  seed {a.seed}  ops {ops}  failed {failed}  "
          f"by kind {res['ops_by_kind']}")
    for s in res["sizes"]:
        cap = f"  ({s['side']} cap {s['cap']:g})" if s["cap"] else ""
        print(f"  size {s['name']} = {s['value']:g}{cap}")
    for name, m in list(e2e.items()) + sorted(res["extra_metrics"].items()):
        print(f"  {name} = {m['value']:.6g} {m['unit']}  (ops {ops})")
    for f in failures[:20]:
        print(f"  FAILED {f}")
    if a.trace == 0:
        metrics = e2e
        (out_dir / f"{a.workload}.untraced.json").write_text(json.dumps(
            {"seed": a.seed, "metrics": e2e, "extra_metrics": res["extra_metrics"]}, indent=1))
    else:
        metrics, na = {}, []
        for m in spec["per_layer"]:
            v = res["layers"].get(m["name"])
            if v is None:
                na.append(m["name"])
            metrics[m["name"]] = {"value": 0.0 if v is None else v, "unit": m["unit"]}
        base_path = out_dir / f"{a.workload}.untraced.json"
        if base_path.exists():
            base = json.loads(base_path.read_text())
            overhead = {k: {"traced": e2e[k]["value"],
                            "untraced": base["metrics"][k]["value"],
                            "difference": e2e[k]["value"] - base["metrics"][k]["value"],
                            "unit": e2e[k]["unit"]}
                        for k in e2e if k in base["metrics"]}
            overhead_note = f"against the untraced run with seed {base['seed']}"
        else:
            overhead, overhead_note = {}, "no untraced run of this workload recorded yet"
        (out_dir / f"{a.workload}.layers.json").write_text(json.dumps(
            {"seed": a.seed, "ops": ops, "layers": metrics, "not_applicable": na,
             "leaks": res["leaks"], "sizes": res["sizes"], "setup": res["setup"],
             "ops_by_kind": res["ops_by_kind"], "tracing_overhead": overhead,
             "tracing_overhead_basis": overhead_note}, indent=1))
        print(f"  per-layer metrics written to {out_dir / (a.workload + '.layers.json')}; "
              f"not applicable here: {', '.join(na) or 'none'}")
        for k, o in overhead.items():
            print(f"  tracing overhead {k}: {o['difference']:+.6g} {o['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": ops, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
