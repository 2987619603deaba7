#!/usr/bin/env python3
"""graft benchmark: one command, two seeded workloads, checked outputs.

    python3 perfbench/run.py --workload {curation,ingest} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. The runner

  1. builds the library and the benchmark harness from source (sbt, once per
     source change; later runs start the JVM directly on the cached
     classpath) and dumps the contract oracle SQL (graft.DumpOracle);
  2. generates the workload's seeded inputs in the testdata schema
     (perfbench/gen.py) and computes the DuckDB reference answers of the
     contract keys the workload reproduces, once per seed;
  3. runs the workload in one JVM on local[nproc] — a closed loop, one
     driver thread, one client — which sets up (session start, then staging
     the inputs three times), runs the cold check pass (an unmeasured
     warm-up where the workload has one), then measured passes for at least
     the given seconds, and checks every pass;
  4. compares the check pass's contract-key outputs with the references
     using scripts/dev_check.py's normalization;
  5. prints every metric by name with its unit, and as its last line one
     JSON object {correct, attempted, failed, metrics}: the end-to-end
     metrics with --trace 0, the per-layer metrics with --trace 1.

Everything it writes goes under .bench_build/ in the checkout (or
$CARGO_TARGET_DIR if set); sbt keeps its target/ directories in the
checkout (the library's, and the harness's under perfbench/). A mismatch
or an exception counts as a failed operation and makes the command exit
non-zero.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

ORACLE_KEYS = {
    "curation": ["corpus_pipeline_v5"],
    "ingest": ["m1_bars"],
}
JVM_TIMEOUT_S = 165
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail_setup(msg: str) -> None:
    log(f"error: {msg}")
    sys.exit(2)


def benchmark_json() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


# ------------------------------------------------------------------ build

def source_stamp() -> str:
    h = hashlib.sha256()
    # the library build and the benchmark build, sources and definitions
    files = sorted((ROOT / "src" / "main").rglob("*.scala")) + \
        sorted((HERE / "src").rglob("*.scala")) + \
        [ROOT / "build.sbt", HERE / "build.sbt"] + \
        sorted(f for d in (ROOT / "project", HERE / "project")
               for f in d.glob("*") if f.suffix in (".sbt", ".scala", ".properties"))
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def sbt_env() -> dict:
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def java_cmd(cp: str, main: str, tmp: Path, heap: str = "3g") -> list:
    # fixed heap and young generation: the peak RSS then tracks what the
    # workload keeps live, not when the collector chose to grow the heap
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-Xmn1g", "-XX:-UsePerfData"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.sql.warehouse.dir={tmp / 'warehouse'}",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
        "-cp", cp, main]


def jvm_env(tmp: Path) -> dict:
    """Spark's scratch space (shuffle and block files) inside the checkout."""
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    return env


def build(bdir: Path) -> str:
    """Compile when a source changed; return the runtime classpath."""
    stamp = source_stamp()
    stamp_f, cp_f = bdir / "build.stamp", bdir / "classpath.txt"
    oracle_f = bdir / "oracle_sql.json"
    if stamp_f.exists() and stamp_f.read_text() == stamp and cp_f.exists() \
            and oracle_f.exists():
        return cp_f.read_text()
    log("building (sbt compile) ...")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    cp = next((ln.strip() for ln in reversed(lines)
               if "scala-2.13/classes" in ln and not ln.startswith("[")), "")
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:])
        fail_setup("build failed")
    tmp = bdir / "tmp"
    tmp.mkdir(exist_ok=True)
    d = subprocess.run(java_cmd(cp, "graft.DumpOracle", tmp, "1g") + [str(oracle_f)],
                       cwd=ROOT, env=jvm_env(tmp), stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=120)
    if d.returncode != 0 or not oracle_f.exists():
        sys.stderr.write(d.stdout[-4000:])
        fail_setup("oracle SQL dump failed")
    cp_f.write_text(cp)
    stamp_f.write_text(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return cp


# ------------------------------------------------------- inputs, reference

def digest(path: Path) -> str:
    return hashlib.sha256(path.read_bytes()).hexdigest()[:12]


def prepare_inputs(workload: str, seed: int, bdir: Path) -> tuple:
    """Generated tables of (workload, seed), cached per generator version."""
    import gen
    d = bdir / "data" / workload / f"seed{seed}-{digest(HERE / 'gen.py')}"
    info_f = d / "generated.json"
    if not info_f.exists():
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.time()
        info = gen.generate(workload, seed, str(d))
        info["gen_s"] = round(time.time() - t0, 3)
        info_f.write_text(json.dumps(info, default=int))
    return d, json.loads(info_f.read_text())


def references(workload: str, data: Path, bdir: Path) -> dict:
    """Normalized DuckDB answers of the workload's contract keys, computed
    once per seed with the keys' SparkEntry.oracleSql."""
    import pandas as pd
    ref_dir = data / f"ref-{digest(bdir / 'oracle_sql.json')}"
    keys = ORACLE_KEYS[workload]
    if not all((ref_dir / f"{k}.parquet").exists() for k in keys):
        import duckdb
        import dev_check
        oracle = json.loads((bdir / "oracle_sql.json").read_text())
        ref_dir.mkdir(parents=True, exist_ok=True)
        con = duckdb.connect()
        con.execute("SET memory_limit='2GB'")
        con.execute("SET threads=4")
        con.execute(f"SET temp_directory='{bdir / 'duck_tmp'}'")
        for t in ("events", "documents"):
            p = data / f"{t}.parquet"
            if p.exists():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        cache = {}
        for k in keys:
            sql, _ = dev_check.staged_sql(con, cache, oracle[k])
            df = dev_check.norm(con.sql(sql).df())
            df.to_parquet(ref_dir / f"{k}.parquet", index=False)
        con.close()
    return {k: pd.read_parquet(ref_dir / f"{k}.parquet") for k in keys}


def compare_dumps(dumps: dict, refs: dict) -> list:
    """(key, ok, detail) for every contract key the workload reproduces."""
    import pandas as pd
    import dev_check
    out = []
    for k, ref in refs.items():
        if k not in dumps:
            out.append((k, False, "no output dumped"))
            continue
        try:
            got = dev_check.norm(pd.read_parquet(dumps[k]))
            r = dev_check.compare(got, ref, k)
            out.append((k, bool(r["hash_match"]),
                        f"rows spark={r['spark_rows']} oracle={r['oracle_rows']}"))
        except Exception as e:  # a broken dump is one failed check
            out.append((k, False, f"{type(e).__name__}: {e}"[:300]))
    return out


# ------------------------------------------------------------------- host

def steal_ticks() -> int:
    try:
        f = Path("/proc/stat").read_text().splitlines()[0].split()
        return int(f[8]) if len(f) > 8 else -1
    except OSError:
        return -1


def loadavg() -> float:
    try:
        return float(Path("/proc/loadavg").read_text().split()[0])
    except OSError:
        return -1.0


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp: str, args: list, logf: Path, tmp: Path, timeout: float) -> int:
    """Run the workload JVM in its own process group; kill the group on a
    timeout or when this runner is interrupted or terminated."""
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    with open(logf, "w") as lf:
        p = subprocess.Popen(java_cmd(cp, "perfbench.Main", tmp) + args,
                             cwd=ROOT, env=jvm_env(tmp), stdout=lf,
                             stderr=subprocess.STDOUT, start_new_session=True)

        def kill(*_):
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()

        def on_signal(signum, _frame):
            kill()
            sys.exit(128 + signum)

        old = {s: signal.signal(s, on_signal)
               for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP)}
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            kill()
            return -9
        finally:
            for s, h in old.items():
                signal.signal(s, h)


# ---------------------------------------------------------------- metrics

def med(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


def tail(xs):
    """Highest percentile with at least ten samples beyond it."""
    s = sorted(xs)
    if len(s) < 11:
        return None, None
    i = len(s) - 11
    return s[i], 100.0 * (i + 1) / len(s)


def self_time_table(spans: list, root_ids: list) -> tuple:
    """Per-layer self time, averaged over the traced units. Each instant of
    a unit's wall is charged to the deepest span open at that instant
    (concurrent deepest spans split it), so the rows add up to the wall;
    time no module call covers is the remainder row. Job and stage time is
    split by the call site of the action that ran the job."""
    kids, by_id = {}, {}
    for s in spans:
        by_id[s[0]] = s
        kids.setdefault(s[1], []).append(s)

    def label(s, root, module, site):
        if s is root:
            return "(remainder: driver time outside module calls)"
        if s[3] == "job":
            return f"{module} / {site}: spark job, no stage running"
        if s[3] == "stage":
            return f"{module} / {site}: spark stages (tasks)"
        return f"{s[2]} / driver"

    rows, walls = {}, []
    for rid in root_ids:
        root = by_id.get(rid)
        if root is None:
            continue
        walls.append(root[5] - root[4])
        # (span, depth), children clipped to their parent's interval
        tree, stack = [], [(root, 0, root[4], root[5], root[2], "")]
        while stack:
            s, d, lo, hi, module, site = stack.pop()
            if s[3] == "module":
                module = s[2]
            elif s[3] == "job":
                site = s[2].split(": ", 1)[-1]
            tree.append((label(s, root, module, site), d, lo, hi))
            for c in kids.get(s[0], []):
                a, b = max(c[4], lo), min(c[5], hi)
                if b > a:
                    stack.append((c, d + 1, a, b, module, site))
        cuts = sorted({t for _, _, lo, hi in tree for t in (lo, hi)})
        for a, b in zip(cuts, cuts[1:]):
            live = [(d, n) for n, d, lo, hi in tree if lo <= a and hi >= b]
            deepest = max(d for d, _ in live)
            names = [n for d, n in live if d == deepest]
            for n in names:
                rows[n] = rows.get(n, 0) + (b - a) / len(names)
    k = max(1, len(walls))
    table = [(n, v / k / 1e6) for n, v in sorted(rows.items(), key=lambda x: -x[1])]
    return table, (sum(walls) / k / 1e6 if walls else None)


def end_to_end(res: dict) -> dict:
    timed = [p for p in res["passes"] if not p["warm"] and "ops" in p]
    plain = [p for p in timed if not p["traced"]] or timed
    ops = [o[1] for p in plain for o in p["ops"] if not o[2]]
    inb = max(1.0, res["input_bytes"])
    return {
        "setup_s": res["setup_s"],
        "wall_s": med([p["wall_s"] for p in plain]),
        "batch_p50_s": med(ops),
        "write_amp": med([p["persisted_bytes"] / inb for p in plain]),
        "state_bytes_per_doc": med([p["footprint_bytes"] / max(1.0, p["live_rows"])
                                    for p in plain]),
        "peak_rss_mb": res["peak_rss_mb"],
    }, ops


def per_layer(res: dict) -> dict:
    """Every per-layer value the run recorded, by metric name."""
    timed = [p for p in res["passes"] if not p["warm"] and "ops" in p]
    vals = {}
    layers = [l[1] for l in res["layers"]]
    for k in {k for l in layers for k in l}:
        vals[k] = statistics.mean(l.get(k, 0.0) for l in layers)
    traced = [p for p in timed if p["traced"]] or timed
    for k in {k for p in traced for k in p["extra"]}:
        v = med([p["extra"].get(k) for p in traced])
        if v is not None:
            vals[k] = v
    vals.update(res.get("probes", {}))
    vals["GraftSession.start_ms"] = res["session_start_ms"]
    # tracing overhead: each traced op (a whole pass, or a batch) against
    # the same op of the next, untraced pass, which is at least as warm, so
    # JIT warm-up cannot make the overhead look negative
    diffs = [a[1] - b[1] for p, q in zip(timed, timed[1:])
             if p["traced"] and not q["traced"]
             for a, b in zip(p["ops"], q["ops"]) if a[2]]
    if diffs:
        vals["trace.overhead_s"] = med(diffs)
    return {k: float(v) for k, v in vals.items()
            if v is not None and math.isfinite(v)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or \
            not (ROOT / "scripts" / "dev_check.py").is_file():
        fail_setup(f"{ROOT} is not a graft checkout (src/main/scala/graft and "
                   "scripts/dev_check.py are needed to build and check)")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail_setup("java and sbt are needed on PATH")
    spec = benchmark_json()
    if a.workload not in ORACLE_KEYS:
        fail_setup(f"unknown workload {a.workload}")

    bdir = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"
    bdir.mkdir(parents=True, exist_ok=True)
    sys.path.insert(0, str(ROOT / "scripts"))
    cp = build(bdir)
    t_start = time.time()  # the run's own time limit starts after the build

    steal0, load0 = steal_ticks(), loadavg()
    data, gen_info = prepare_inputs(a.workload, a.seed, bdir)
    refs = references(a.workload, data, bdir)
    work = bdir / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    (bdir / "logs").mkdir(exist_ok=True)
    logf = bdir / "logs" / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    out = work / "result.json"
    cores = nproc()
    launch_us = time.time_ns() // 1000
    rc = run_jvm(cp, [
        "--workload", a.workload, "--input", str(data), "--work", str(work),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--out", str(out), "--cores", str(cores),
        "--launch-us", str(launch_us)],
        logf, bdir / "tmp", max(30.0, JVM_TIMEOUT_S - (time.time() - t_start)))
    log(f"workload JVM done in {time.time() - launch_us / 1e6:.1f}s (rc={rc})")
    if rc != 0 or not out.exists():
        log(f"workload JVM exited with {rc}; see {logf}")
        sys.stderr.write("".join(logf.read_text().splitlines(True)[-30:]))
        return 1
    res = json.loads(out.read_text())

    checks = compare_dumps(res["dumps"], refs)
    failures = [tuple(f) for f in res["failures"]] + \
        [(f"oracle.{k}", d) for k, ok, d in checks if not ok]
    attempted = res["attempted"] + len(checks)
    failed = len(failures)

    e2e, ops = end_to_end(res)
    layers_all = per_layer(res) if a.trace else {}
    # a layer the workload does not exercise reads 0
    layers = {m["name"]: layers_all.get(m["name"], 0.0)
              for m in spec["per_layer"]} if a.trace else {}
    t_val, t_pct = tail(ops)
    passes = res["passes"]
    wall_cpu_ticks = sum(p["wall_s"] for p in passes) * cores * 100
    steal_share = (sum(p["steal_ticks"] for p in passes) / wall_cpu_ticks
                   if wall_cpu_ticks else 0.0)
    stamp = {"nproc": cores, "steal_ticks": steal_ticks() - steal0,
             "steal_per_pass": [p["steal_ticks"] for p in passes],
             "steal_share": round(steal_share, 4),
             "steal_burst": steal_share > 0.05,
             "loadavg_start": load0, "loadavg_end": loadavg(),
             "gc_ms": res["gc_ms"]}

    # ---- human-readable report (stdout), then the result line
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    print(f"== perfbench {a.workload} seed={a.seed} trace={a.trace} "
          f"loop=closed clients=1 local[{cores}]")
    print(f"inputs: {json.dumps({k: v for k, v in gen_info.items() if k != 'sizes'})}")
    print(f"input bytes={res['input_bytes']:.0f} rows={res['input_rows']:.0f}; "
          f"block-manager storage memory={res['block_manager_max_bytes']}")
    print(f"contention: {json.dumps(stamp)}")
    for p in passes:
        print(f"pass {p['pass']}: wall={p['wall_s']:.3f}s traced={p['traced']} "
              f"steal_ticks={p['steal_ticks']} gc_ms={p['gc_ms']}")
    for k, ok, d in checks:
        print(f"check oracle {k}: {'ok' if ok else 'MISMATCH'} ({d})")
    for k, ok, d in res["finals"]:
        print(f"check {k}: {'ok' if ok else 'FAIL'} ({d})")
    for k, d in failures:
        print(f"FAILED {k}: {d}")
    print(f"fail_frac = {failed / max(1, attempted):.4f} ratio "
          f"({failed} failed / {attempted} attempted)")
    for k, v in e2e.items():
        print(f"{k} = {'n/a' if v is None else f'{v:.6g}'} {units.get(k, '')}")
    print(f"batch_p50_s over {len(ops)} ops; batch_tail_s = "
          + (f"{t_val:.6g} s (p{t_pct:.1f} of {len(ops)} ops)" if t_val is not None
             else f"n/a ({len(ops)} ops: no percentile has 10 ops beyond it; "
                  f"max={max(ops) if ops else 0:.6g} s)"))
    table, unit_wall = [], None
    if a.trace:
        # the traced units: whole passes, or batches
        roots = [l[0] for l in res["layers"]]
        table, unit_wall = self_time_table(res["spans"], roots)
        print(f"self-time table (mean traced unit wall {unit_wall or 0:.3f} s):")
        for name, sec in table:
            print(f"  {sec:10.4f} s  {name}")
        print(f"  {sum(s for _, s in table):10.4f} s  = sum")
        for k, v in layers.items():
            print(f"{k} = {v:.6g} {units.get(k, '')}")
    trace_dir = bdir / "traces"
    trace_dir.mkdir(exist_ok=True)
    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}-{launch_us}"
    (trace_dir / f"{run_id}.spans.json").write_text(json.dumps(
        {"run_id": run_id, "fields": ["id", "parent", "name", "kind",
                                      "start_us", "end_us"],
         "spans": res["spans"]}))
    (bdir / "artifacts").mkdir(exist_ok=True)
    (bdir / "artifacts" / f"{run_id}.json").write_text(json.dumps({
        "run_id": run_id, "workload": a.workload, "seed": a.seed,
        "trace": a.trace, "generated": gen_info, "contention": stamp,
        "end_to_end": e2e, "per_layer": layers_all, "self_time": table,
        "batch_tail_s": t_val, "batch_tail_pct": t_pct, "n_ops": len(ops),
        "fail_frac": failed / max(1, attempted), "failures": failures,
        "oracle_checks": checks, "passes": passes,
        "setup": {k: res[k] for k in ("setup_s", "boot_s", "session_start_ms",
                                      "staging_s")},
        "input_bytes": res["input_bytes"],
        "block_manager_max_bytes": res["block_manager_max_bytes"]}, default=str))

    metrics = layers if a.trace else e2e
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
