#!/usr/bin/env python3
"""Repo benchmark: time SparkEntry query faces by layer and check every result.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the repository root. One run:

1. builds the harness and the program from source with sbt, once per version
   of their sources (output under $CARGO_TARGET_DIR, default `.bench_build`,
   in a directory keyed on a hash of the sources);
2. generates the input tables from --seed (gen_data.py);
3. starts one JVM (perfbench.Harness) that runs set-up, one cold first pass
   and steady passes for --seconds over the workload's faces;
4. checks every face's first-pass result against DuckDB running the face's
   oracle SQL, and every steady pass's row count against the checked count;
5. prints a summary and, as the last stdout line, one JSON object with
   `correct`, `attempted`, `failed` and `metrics`.

--trace 0 reports the end-to-end metrics; --trace 1 runs with a job
listener and reports the per-layer metrics (see README.md). A failed face
is excluded from every timing, and any failure makes the exit code 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen_data  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
# a run after the first in a checkout must end within 180 s; the JVM gets
# this much of it, the rest is input generation and the oracle check
JVM_TIMEOUT_S = 140
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# offline build, resolving only from the local caches (as the root build's tests do)
SBT_REPOS = os.path.expanduser("~/.sbt/repositories")
SBT_OPTS = " ".join(["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"] + (
    ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={SBT_REPOS}"]
    if os.path.isfile(SBT_REPOS) else []))


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_manifest():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def partition(faces, manifest):
    """Map workload -> its faces, by name prefix. Raises if any face is
    unclaimed or claimed by two workloads."""
    parts = {w: [] for w in manifest["workloads"]}
    bad = {}
    for f in faces:
        owners = [w for w, spec in manifest["workloads"].items()
                  if any(f.startswith(p) for p in spec["prefixes"])]
        if len(owners) != 1:
            bad[f] = owners
        else:
            parts[owners[0]].append(f)
    if bad:
        raise ValueError(f"faces not in exactly one workload: {bad}")
    return parts


# Everything the compiled harness is built from. The build directory is keyed
# on a hash of these files, so an edit to any of them gets a build of its own
# and a stale build is never timed.
BUILD_INPUTS = ["build.sbt", "src/main", "perfbench/build.sbt",
                "perfbench/project/build.properties", "perfbench/src"]


def content_key(paths):
    """Hash of the names and contents of every file under `paths` (relative to the root)."""
    h = hashlib.sha256()
    for top in paths:
        p = os.path.join(ROOT, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, n) for d, _, names in os.walk(p) for n in names)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


class Build:
    """Compiled harness + program, in a build directory keyed on their sources.

    The classpath (`classpath.txt`) and the face list with oracle SQL
    (`faces.json`) are written into the same keyed directory, so they are
    always from the same sources."""

    def __init__(self):
        self.root = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))

    def ensure(self):
        if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
            raise SystemExit("perfbench: program sources (src/main/scala/graft) not found; "
                             "run from the repository root")
        self.dir = os.path.join(self.root, "build-" + content_key(BUILD_INPUTS))
        cp_file = os.path.join(self.dir, "classpath.txt")
        faces_file = os.path.join(self.dir, "faces.json")
        if not os.path.isfile(cp_file):
            self._compile(cp_file)
        with open(cp_file) as f:
            self.classpath = f.read().strip()
        if not os.path.isfile(faces_file):
            tmp = faces_file + ".tmp"
            self.java(["mode=list", f"out={tmp}"], os.path.join(self.dir, "list"), timeout=120)
            os.replace(tmp, faces_file)
        with open(faces_file) as f:
            self.oracle = json.load(f)

    def _compile(self, cp_file):
        os.makedirs(self.dir, exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS,
                   PERFBENCH_TARGET=os.path.join(self.dir, "sbt-target"))
        log_path = os.path.join(self.dir, "build.log")
        log(f"building harness and program with sbt into {self.dir}")
        with open(log_path, "w") as out:
            rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                              "export Runtime/fullClasspath"],
                             cwd=HERE, env=env, stdout=out, timeout=840)
        with open(log_path) as f:
            lines = [l.strip() for l in f if l.strip()]
        if rc != 0 or not lines or "classes" not in lines[-1]:
            raise SystemExit(f"perfbench: sbt build failed (rc={rc}); see {log_path}")
        with open(cp_file + ".tmp", "w") as f:
            f.write(lines[-1])
        os.replace(cp_file + ".tmp", cp_file)

    def java(self, args, workdir, timeout):
        os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
        cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={workdir}/tmp",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
               + ADD_OPENS + ["-cp", self.classpath, "perfbench.Harness"] + args)
        with open(os.path.join(workdir, "harness.log"), "w") as err:
            rc = run_bounded(cmd, cwd=workdir, stdout=err, timeout=timeout)
        if rc != 0:
            raise RuntimeError(f"harness exited {rc}; see {workdir}/harness.log")


def run_bounded(cmd, cwd, stdout, timeout, env=None):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def tables(root, seed, sf):
    """Generate (once per checkout and generator version) the tables for (seed, sf)."""
    d = os.path.join(root, "data", "gen-" + content_key(["perfbench/gen_data.py"]),
                     f"seed{seed}", f"sf{sf}")
    if not os.path.isfile(os.path.join(d, "_done")):
        shutil.rmtree(d, ignore_errors=True)
        gen_data.generate(d, sf, seed)
        open(os.path.join(d, "_done"), "w").close()
    return d


def digest_frame(df):
    """Order-insensitive digest: row count, sorted column names, and the md5
    of the rows rendered as strings and sorted (the project's oracle rule)."""
    df = df[sorted(df.columns)]
    s = df.astype(str).sort_values(by=list(df.columns)).reset_index(drop=True)
    return {"rows": int(len(df)), "columns": list(df.columns),
            "md5": hashlib.md5(s.to_csv(index=False).encode()).hexdigest()}


def expected_digests(data_dir, faces, oracle):
    """Digest of each face's oracle SQL on `data_dir`, cached beside the data."""
    import duckdb
    cache_path = os.path.join(data_dir, "_oracle.json")
    cache = {}
    if os.path.isfile(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    con = None
    for f in faces:
        sql = oracle.get(f)
        key = hashlib.md5((sql or "").encode()).hexdigest()
        if f in cache and cache[f].get("sql") == key:
            continue
        if sql is None:
            cache[f] = {"sql": key, "error": "no oracle SQL"}
            continue
        if con is None:
            con = duckdb.connect()
            con.execute("SET threads TO 2")
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        try:
            cache[f] = dict(digest_frame(con.sql(sql).df()), sql=key)
        except Exception as e:  # the oracle failing is a failed check
            cache[f] = {"sql": key, "error": f"oracle: {e}"[:300]}
    if con is not None:
        con.close()
        with open(cache_path + ".tmp", "w") as out:
            json.dump(cache, out)
        os.replace(cache_path + ".tmp", cache_path)
    return cache


def actual_digest(path):
    import pandas as pd
    import pyarrow.parquet as pq
    files = sorted(os.path.join(path, n) for n in os.listdir(path) if n.endswith(".parquet"))
    if not files:
        raise ValueError("no result files")
    return digest_frame(pd.concat([pq.read_table(p).to_pandas() for p in files]))


def quantile(values, q):
    """Linear-interpolated quantile of a non-empty list."""
    v = sorted(values)
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def end_to_end(res, ok):
    """End-to-end metrics over faces that never failed in this run."""
    samples = [s for s in res["samples"] if s[1] in ok]
    first = sum(s[2] + s[3] + s[4] for s in samples if s[0] == 0)
    steady = {}
    for s in samples:
        if s[0] >= 1:
            steady.setdefault(s[0], []).append(s[2] + s[3] + s[4])
    face_ms = [t * 1000 for ts in steady.values() for t in ts]
    return {
        "setup_s": (res["setup_s"], "s"),
        "first_pass_s": (first, "s"),
        "suite_s": (statistics.median(sum(ts) for ts in steady.values()), "s"),
        "face_p50_ms": (quantile(face_ms, 0.5), "ms"),
        "cache_mb": (res["cache_bytes"] / 1e6, "MB"),
    }, len(face_ms), len(steady)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject-throw", help="add a face of this name that always throws")
    a = ap.parse_args(argv)
    started = time.time()
    # a terminated run still stops the JVM it started (run_bounded's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    manifest = load_manifest()
    if a.workload not in manifest["workloads"]:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    build = Build()
    build.ensure()
    partition(sorted(build.oracle), manifest)  # every face belongs to one workload
    spec = manifest["workloads"][a.workload]
    faces = spec["faces"]
    unknown = [f for f in faces if f not in build.oracle]
    if unknown:
        raise SystemExit(f"perfbench: unknown faces {unknown}")
    if a.inject_throw:
        faces = faces + [a.inject_throw]

    sf, warm_sf = manifest["sf"], manifest["warm_sf"]
    data = tables(build.root, a.seed, sf)
    warm = tables(build.root, a.seed, warm_sf)
    run_dir = os.path.join(build.root, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    log(f"{a.workload}: {len(faces)} faces, sf={sf}, seed={a.seed}; inputs ready after "
        f"{time.time() - started:.1f} s; run dir {run_dir}")
    build.java(["mode=run", "faces=" + ",".join(faces), f"data={data}", f"warm={warm}",
                f"seed={a.seed}", f"seconds={a.seconds}", f"trace={a.trace}", f"out={run_dir}"]
               + ([f"inject_throw={a.inject_throw}"] if a.inject_throw else []),
               run_dir, timeout=JVM_TIMEOUT_S)
    with open(os.path.join(run_dir, "harness.json")) as f:
        res = json.load(f)
    log(f"harness done after {time.time() - started:.1f} s")

    # Failures: any throw, a result that differs from the oracle, or a
    # steady pass whose row count differs from the checked result.
    errors = {}
    for p, face, *_t, rows, err in res["samples"]:
        if err is not None:
            errors.setdefault(face, f"pass {p}: {err}")
    for face, err in res["check_errors"].items():
        errors.setdefault(face, err)
    expected = expected_digests(data, [f for f in faces if f not in errors], build.oracle)
    checked_rows = {}
    for f in faces:
        if f in errors:
            continue
        exp = expected[f]
        try:
            got = actual_digest(os.path.join(run_dir, "check", f))
        except Exception as e:
            errors[f] = f"check: {e}"
            continue
        if "error" in exp:
            errors[f] = f"check: {exp['error']}"
        elif any(got[k] != exp[k] for k in ("rows", "columns", "md5")):
            errors[f] = f"check: result differs from oracle (rows {got['rows']} vs {exp['rows']})"
        else:
            checked_rows[f] = got["rows"]
    for p, face, *_t, rows, err in res["samples"]:
        if face in checked_rows and p >= 0 and rows != checked_rows[face] and face not in errors:
            errors[face] = f"pass {p}: count {rows} differs from checked {checked_rows[face]}"
    ok = set(faces) - set(errors)
    log(f"checks done after {time.time() - started:.1f} s")

    if not ok:
        metrics, n_samples, n_passes = {}, 0, 0
    elif a.trace:
        import trace_summary
        metrics, n_samples, n_passes = trace_summary.per_layer(run_dir, res, ok, errors)
    else:
        metrics, n_samples, n_passes = end_to_end(res, ok)
    print(f"workload {a.workload}: {len(faces)} faces, {len(errors)} failed, "
          f"{n_passes} steady passes, {n_samples} steady face samples, seed {a.seed}")
    for name, (v, unit) in metrics.items():
        print(f"  {name:26s} {v:14.4f} {unit}")
    if not a.trace and n_samples:
        # printed, not gated: with this few samples per run no percentile
        # above the median has ten samples beyond it
        face_ms = [(s[2] + s[3] + s[4]) * 1000 for s in res["samples"] if s[0] >= 1 and s[1] in ok]
        print(f"  {'face_p90_ms (not gated)':26s} {quantile(face_ms, 0.9):14.4f} ms")
    for f, e in sorted(errors.items()):
        print(f"  FAILED {f}: {e}")
    for d in ("check", "warehouse", "local", "tmp"):  # keep harness.json/.log, trace.jsonl
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    print(json.dumps({
        "correct": not errors,
        "attempted": len(faces),
        "failed": len(errors),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if not errors else 1


if __name__ == "__main__":
    sys.exit(main())
