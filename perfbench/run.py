#!/usr/bin/env python3
"""Ingest + search benchmark of the graft engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload cdc_upsert --seed 1 --seconds 10 --trace 0

Workloads: cdc_upsert, kafka_avro, query_board (see BENCHMARK.json and
perfbench/NOTES.md). The script builds the engine plus the benchmark
JVM program with sbt on first use (perfbench/build.sbt), generates the
workload's inputs from the seed, runs one JVM (`graft.perfbench.Main`)
in a fresh run directory under perfbench/.work, checks every output
against a model or oracle and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones. Each run does a fixed amount of work, derived from `--seconds`.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETTINGS = json.loads((HERE / "settings.json").read_text())
CYCLE = 9  # 8 plain delta commits + 1 that also compacts (maxDeltas = 8)
JVM_TIMEOUT_S = 150
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

sys.path.insert(0, str(HERE))
import benchgen  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def source_files():
    roots = [ROOT / "src" / "main", HERE / "src" / "main"]
    files = [p for r in roots for p in sorted(r.rglob("*")) if p.is_file()]
    return files + [HERE / "build.sbt", HERE / "project" / "build.properties"]


def build():
    """Compile with sbt when the sources changed since the last build."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit("perfbench: engine sources (src/main/scala) not found; "
                 "run from a full checkout of the repository")
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = HERE / "target" / "perfbench.stamp"
    classes = HERE / "target" / "scala-2.13" / "classes"
    if stamp.exists() and stamp.read_text() == h.hexdigest() and classes.is_dir():
        return classes
    log("building (sbt compile) ...")
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.forcestart=false", "compile", "copyResources"],
                       cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("perfbench: build failed")
    stamp.write_text(h.hexdigest())
    return classes


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        sys.exit("perfbench: SPARK_HOME is not set to a Spark install")
    return str(Path(home) / "jars" / "*")


# ------------------------------------------------------------------ inputs

def ops_for(seconds, per_second):
    return max(1, round(seconds * per_second))


def gen_cdc(cfg, seed, seconds, trace, work):
    timed = CYCLE * ops_for(seconds, cfg["cycles_per_second"])
    sizes = [cfg["rows_per_file"]] * (cfg["warmup_ops"] + timed)
    fit = [n for n in cfg["fit_rows"] for _ in range(2)] if trace else []
    snapshot, batches = benchgen.cdc_changelog(seed, cfg["keyspace"], sizes + fit,
                                               zipf_s=cfg["zipf_s"])
    staged = work / "in" / "staged"
    staged.mkdir(parents=True)
    benchgen.write_rows(snapshot, work / "in" / "snapshot.parquet")
    for i, rows in enumerate(batches):
        kept = sum(1 for r in rows if benchgen.cdc_kept(r))
        if kept > 1000:
            raise SystemExit(f"perfbench: batch {i} keeps {kept} rows > batchSize")
        benchgen.write_rows(rows, staged / f"b{i:05d}.parquet")
    args = {"warmup": cfg["warmup_ops"], "timed": timed, "fit": len(fit)}
    return args, {"snapshot": snapshot, "batches": batches,
                  "live_bound": benchgen.cdc_live_bound(cfg["keyspace"])}


def gen_kafka(cfg, seed, seconds, trace, work):
    timed = CYCLE * ops_for(seconds, cfg["cycles_per_second"])
    sizes = [cfg["batch_size"]] * (cfg["warmup_ops"] + timed)
    fit = [n for n in cfg["fit_sizes"] for _ in range(2)] if trace else []
    preload, batches, expected = benchgen.kafka_frames(
        seed, cfg["keyspace"], sizes + fit, cfg["corrupt_share"])
    (work / "in").mkdir(parents=True)
    benchgen.write_frames(preload, work / "in" / "preload.parquet")
    benchgen.write_batches(batches, work / "in" / "batches.parquet")
    (work / "in" / "schemas.json").write_text(json.dumps(
        {str(k): v for k, v in benchgen.WRITER_SCHEMAS.items()}))
    args = {"warmup": cfg["warmup_ops"], "timed": timed, "fit": len(fit)}
    return args, {"preload": preload, "batches": batches, "expected": expected,
                  "live_bound": cfg["keyspace"]}


def gen_board(cfg, seed, seconds, trace, work):
    tables = work / "in" / "tables"
    tables.mkdir(parents=True)
    benchgen.board_tables(seed, tables, **cfg["tables"])
    shutil.copy(HERE / "board_rows.txt", work / "in" / "board_rows.txt")
    args = {"warmup": cfg["warmup_passes"],
            "timed": max(3, ops_for(seconds, cfg["passes_per_second"]))}
    return args, {"tables": tables}


GENERATORS = {"cdc_upsert": gen_cdc, "kafka_avro": gen_kafka, "query_board": gen_board}


# ------------------------------------------------------------------ checks

def check_cdc(res, model):
    import pyarrow.parquet as pq
    consumed = res["checks"]["consumed"]
    rows = model["snapshot"] + [r for b in model["batches"][:consumed] for r in b]
    want = benchgen.cdc_digest_rows(benchgen.replay(rows, keep=benchgen.cdc_kept))
    t = pq.read_table(res["checks"]["index"]).to_pylist()
    got = sorted(sorted(benchgen.cdc_index_document(r).items()) for r in t)
    if got == want:
        return []
    bad = next((g, w) for g, w in zip(got + [None], want + [None]) if g != w)
    return [f"index != replay model ({len(got)} vs {len(want)} docs; first difference "
            f"{bad[0]} != {bad[1]})"]


def check_kafka(res, model):
    import pyarrow.parquet as pq
    consumed = res["checks"]["consumed"]
    exp = model["expected"]
    final = dict(exp["final_preload"])
    for b in exp["batch_finals"][:consumed]:
        final.update(b)
    want = benchgen.kafka_digest_rows(final)
    t = pq.read_table(res["checks"]["index"]).to_pylist()
    got = sorted((r["_id"], r["seq"], r["name"], r["score"], r["city"], r["tags"]) for r in t)
    errors = [] if got == want else [f"index digest != generator ({len(got)} vs {len(want)} docs)"]
    for i, errs in enumerate(res["checks"]["dlq"]):
        kinds = {}
        for e in errs:
            kind = ("bad_magic" if e.startswith("not Confluent") else
                    "unknown_schema" if e.startswith("unknown schema id") else
                    "truncated" if e.startswith("avro decode failed") else e)
            kinds[kind] = kinds.get(kind, 0) + 1
        if kinds != exp["corrupt"][i]:
            errors.append(f"batch {i}: DLQ {kinds} != injected {exp['corrupt'][i]}")
    return errors


def check_board(res, model):
    import board_oracle
    errors = board_oracle.compare(model["tables"], res["checks"]["board_dir"],
                                  res["checks"]["oracle"])
    if res["checks"]["search_mismatch"]:
        errors.append(f"merge-on-read != compacted for {res['checks']['search_mismatch']}")
    if res["checks"]["digest_mismatch"]:
        errors.append(f"timed pass result != checked result for {res['checks']['digest_mismatch']}")
    return errors


def check_stationarity(res, model):
    """Ingest runs start and end their timed phase on a compaction-cycle
    boundary, and the live index never holds more documents than the
    keys the shard keeps."""
    ends = res["checks"].get("stationarity")
    if not ends:
        return []
    errors = [f"timed phase not cycle-aligned: delta depth {e['delta_depth']}"
              for e in ends if e["delta_depth"] != 0]
    errors += [f"index holds {e['live_docs']} docs > {model['live_bound']} kept keys"
               for e in ends if e["live_docs"] > model["live_bound"]]
    return errors


CHECKS = {"cdc_upsert": check_cdc, "kafka_avro": check_kafka, "query_board": check_board}


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM (subprocess.run kills the child
    # when the wait is interrupted) and deletes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))

    classes = build()
    jars = spark_jars()
    work = HERE / ".work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        t_gen = time.time()
        args, model = GENERATORS[a.workload](
            SETTINGS["workloads"][a.workload], a.seed, a.seconds, a.trace, work)
        generate_s = time.time() - t_gen
        for d in ("tmp", "spark-local", "out"):
            (work / d).mkdir()
        cmd = (["java", f"-Xms{SETTINGS['heap']}", f"-Xmx{SETTINGS['heap']}"]
               + SETTINGS["jvm_flags"]
               + [
                f"-Djava.io.tmpdir={work / 'tmp'}",
                f"-Dspark.local.dir={work / 'spark-local'}",
                f"-Dspark.sql.warehouse.dir={work / 'warehouse'}"]
               + [f"-D{k}={v}" for k, v in SETTINGS["spark"].items()]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
               + ["-cp", f"{classes}{os.pathsep}{jars}", "graft.perfbench.Main",
                  "--workload", a.workload, "--work", str(work), "--trace", str(a.trace)]
               + [x for k, v in args.items() for x in (f"--{k}", str(v))])
        with open(work / "jvm.log", "w") as jlog:
            # set-up time runs from the JVM's launch to the first timed op
            t_setup = time.time()
            try:
                r = subprocess.run(cmd, cwd=work, stdout=jlog, stderr=subprocess.STDOUT,
                                   timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                sys.exit(f"perfbench: JVM did not finish within {JVM_TIMEOUT_S} s")
            t_jvm_end = time.time()
        if r.returncode != 0:
            sys.stderr.write((work / "jvm.log").read_text()[-6000:])
            sys.exit(f"perfbench: JVM exited with {r.returncode}")
        res = json.loads((work / "result.json").read_text())
        errors = CHECKS[a.workload](res, model) + check_stationarity(res, model)
        check_s = time.time() - t_jvm_end
        for e in errors:
            log(f"CHECK FAILED: {e}")

        ops = res["op_ms"]
        attempted = len(ops)
        failed = attempted if errors else res["failed"]
        setup_s = res["first_op_epoch_ms"] / 1e3 - t_setup
        log(f"{a.workload} seed={a.seed}: {attempted} ops, p50 {statistics.median(ops):.1f} ms, "
            f"max {max(ops):.1f} ms, generate {generate_s:.2f} s, setup {setup_s:.2f} s ("
            + ", ".join(f"{k} {v:.2f} s" for k, v in res["setup"].items())
            + f"), after timing {t_jvm_end - t_setup - setup_s - sum(ops) / 1e3:.2f} s "
            f"+ checks {check_s:.2f} s, drift {res['checks'].get('drift_ratio', 0):.3f}, "
            f"index ends {res['checks'].get('stationarity')}")
        if a.trace:
            # a layer the workload does not run reads 0 (its control reading)
            layers = dict(res["layers"], **{"setup.generate_s": generate_s})
            metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in UNITS.items()}
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "throughput_per_s": {"value": res["units"] / (sum(ops) / 1e3), "unit": "1/s"},
                "op_p50_ms": {"value": statistics.median(ops), "unit": "ms"},
            }
        print(json.dumps({"correct": not errors, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


UNITS = {m["name"]: m["unit"]
         for m in json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]}

if __name__ == "__main__":
    main()
