"""Benchmark of ``kgforge.pipeline.run.run_pipeline`` as shipped.

    python3 perfbench/run.py --workload build --seed 1 --seconds 6 --trace 0

Run from the repository root. One run, in one process on local[nproc]:

1. setup (``setup_s``): start the Spark session and generate the seeded
   corpus (three times; the median counts), checking its pinned fingerprint.
2. timed: one ``run_pipeline(pages, work_root, **options)`` call on a fresh
   ``work_root``. It is the first pipeline call of the JVM, as for a batch
   job submitted once per crawl, so JIT and code generation are part of it.
3. setup again: sample the lookup keys of the graph that call wrote, make a
   few untimed lookups, and run a JVM garbage collection.
4. timed: ``--seconds`` of closed-loop point lookups (one client; the next
   request leaves when the previous reply is collected) through
   ``pruned_read`` against its ``spo_s`` / ``spo_o`` tables.
5. gate: the outputs and every lookup answer are checked (see gate.py).

``--trace 0`` prints the end-to-end metrics named in BENCHMARK.json;
``--trace 1`` runs the same steps with every layer wrapped in spans and
Spark's event log on, and prints the per-layer metrics. The last stdout
line is the JSON result; the lines before it are a readable summary.
Everything the run writes stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import gate, procs  # noqa: E402  (needs ROOT on the path)
from perfbench.trace import Tracer, fold_event_log  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")
OPTIONS = {
    "build": {},
    "crawl_audit": {"dedup": "near", "extended_checks": True},
}
# stage name -> directory under work_root (kgforge.pipeline.run layout)
STAGE_DIRS = {
    "dedup": "pages_dedup",
    "parse": "parsed",
    "mentions": "mentions",
    "validate_accept": "accepted",
    "validate_reject": "rejected",
    "constraint_reports": "reports",
    "canonicalize": "canonical_map",
    "materialize_s": "graph/spo_s",
    "materialize_p": "graph/spo_p",
    "materialize_o": "graph/spo_o",
}
STAGE_FIELDS = (
    "run_s", "cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "tasks", "task_skew",
)
LOOKUP_TABLES = {"s": ("graph/spo_s", "subject"), "o": ("graph/spo_o", "obj_value")}
LOOKUP_KEYS = 400
ABSENT_EVERY = 10  # one absent key pair in ten
MIN_LOOKUPS = 24
WARM_LOOKUPS = 3
CORPUS_REPEATS = 3


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(OPTIONS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _bytes_under(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f)) for dp, _dn, fns in os.walk(path) for f in fns
    )


def _manifest_rows(work_root: str) -> dict[str, int]:
    rows = {}
    mdir = os.path.join(work_root, "_manifests")
    for name in os.listdir(mdir):
        if name.endswith(".json"):
            with open(os.path.join(mdir, name)) as fh:
                rec = json.load(fh)
            rows[rec["stage"]] = rec["rows"]
    return rows


def _tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with ten samples
    beyond it."""
    s = sorted(samples)
    n = len(s)
    return s[n - 11], 100.0 * (n - 10) / n


class Run:
    def __init__(self, args, run_dir: str):
        self.args = args
        self.wl = args.workload
        self.run_dir = run_dir
        self.metrics: dict[str, float] = {}
        self.notes: dict = {}
        self.attempted = 0
        self.failed = 0

    # ---------------------------------------------------------------- setup
    def start_session(self, trace: bool):
        from kgforge.session import get_spark

        cpus = len(os.sched_getaffinity(0))
        conf = {
            # below this host's RAM; kgforge.session defaults to 16g
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.run_dir, "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.run_dir}/tmp",
        }
        if trace:
            os.makedirs(os.path.join(self.run_dir, "eventlog"))
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.run_dir, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return get_spark(app_name=f"perfbench-{self.wl}", master=f"local[{cpus}]", extra_conf=conf)

    def make_corpus(self, spark, store):
        from kgforge.schema import PAGES_SCHEMA
        from perfbench import corpus

        pages, times = None, []
        for _ in range(CORPUS_REPEATS):
            t0 = time.perf_counter()
            rows = corpus.CORPORA[self.wl](self.args.seed)
            gate.check_corpus(store, self.wl, self.args.seed, corpus.fingerprint(rows))
            if pages is not None:
                pages.unpersist(blocking=True)
            pages = spark.createDataFrame(corpus.to_pandas(rows), PAGES_SCHEMA).persist()
            pages.count()
            times.append(time.perf_counter() - t0)
        self.n_pages = len(rows)
        return pages, statistics.median(times)

    def warm_lookups(self, spark, work_root: str, keys) -> None:
        """A few untimed lookups (keys from the end of the list) so the timed
        loop starts on a warm read path, then a JVM garbage collection so it
        does not inherit the pipeline call's garbage."""
        from kgforge.sinks.materialize import pruned_read

        for table, key in keys[-WARM_LOOKUPS:]:
            sub, col = LOOKUP_TABLES[table]
            pruned_read(spark, os.path.join(work_root, sub), col, key).collect()
        spark.sparkContext._jvm.System.gc()

    @staticmethod
    def _persisted_ids(spark) -> list[int]:
        return [int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()]

    def sample_keys(self, spark, work_root: str) -> list[tuple[str, str]]:
        """Seeded keys of the built graph in a fixed pattern: subject and
        object lookups alternate, and every ``ABSENT_EVERY``-th pair asks
        for keys absent from the graph, so every run sends the same mix."""
        universe = {}
        for table, (sub, col) in LOOKUP_TABLES.items():
            df = spark.read.parquet(os.path.join(work_root, sub)).select(col).distinct()
            universe[table] = sorted(r[0] for r in df.collect() if r[0] is not None)
        rng = random.Random(f"lookup:{self.wl}:{self.args.seed}")
        keys = []
        for i in range(LOOKUP_KEYS // 2):
            absent = i % ABSENT_EVERY == ABSENT_EVERY - 1
            for table in ("s", "o"):
                if absent:
                    key = f"https://absent.example.org/{i}" if table == "s" else f"absent {i}"
                else:
                    key = rng.choice(universe[table])
                keys.append((table, key))
        return keys

    # ---------------------------------------------------------------- timed
    def lookups(self, spark, work_root, keys, tracer=None):
        from kgforge.sinks.materialize import pruned_read

        answers, lat, ratios = [], [], []
        deadline = time.perf_counter() + self.args.seconds
        i = 0
        while time.perf_counter() < deadline or i < MIN_LOOKUPS:
            table, key = keys[i % len(keys)]
            sub, col = LOOKUP_TABLES[table]
            path = os.path.join(work_root, sub)
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    rows = pruned_read(spark, path, col, key).collect()
                else:
                    with tracer.span("lookup"):
                        with tracer.span("lookup.plan"):
                            df = pruned_read(spark, path, col, key)
                        with tracer.span("lookup.scan"):
                            rows = df.collect()
                    n_files = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
                    ratios.append(len(df.inputFiles()) / n_files)
                answers.append((table, key, Counter(tuple(r) for r in rows)))
            except Exception:
                traceback.print_exc()
                answers.append((table, key, None))
            lat.append(time.perf_counter() - t0)
            i += 1
        return answers, lat, ratios

    # ----------------------------------------------------------------- gate
    def check_outputs(self, spark, work_root, rows, store) -> list[str]:
        from kgforge.sinks.materialize import content_fingerprint

        copies = [
            content_fingerprint(spark.read.parquet(os.path.join(work_root, STAGE_DIRS[s])))
            for s in ("materialize_s", "materialize_p", "materialize_o")
        ]
        key = ["url", "seq", "subject", "predicate"]
        acc = spark.read.parquet(os.path.join(work_root, "accepted")).select(key)
        rej = spark.read.parquet(os.path.join(work_root, "rejected")).select(key)
        observed = {
            "spo": copies[0],
            "accepted": rows["validate_accept"],
            "rejected": rows["validate_reject"],
            "mapping": rows.get("canonicalize"),
            "reports": rows.get("constraint_reports"),
            "spo_copies": copies,
            "overlap": acc.join(rej.distinct(), key, "left_semi").count(),
        }
        expected = store.expected("outputs", self.wl, self.args.seed)
        fails = gate.output_failures(observed, expected)
        if not fails:
            store.record("outputs", self.wl, self.args.seed, {k: observed[k] for k in gate.OUTPUT_KEYS})
        self.notes["outputs"] = {k: observed[k] for k in gate.OUTPUT_KEYS}
        return fails

    def check_lookups(self, spark, work_root, answers) -> int:
        from pyspark.sql import functions as F

        full = {}
        for table, (sub, col) in LOOKUP_TABLES.items():
            keys = sorted({k for t, k, _ in answers if t == table})
            if not keys:
                continue
            df = spark.read.parquet(os.path.join(work_root, sub))
            for r in df.filter(F.col(col).isin(keys)).collect():
                full.setdefault((table, r[col]), Counter())[tuple(r)] += 1
        bad = set(gate.lookup_failures([a for a in answers if a[2] is not None], full))
        # lookup_failures indexes the answered subset; raised lookups fail too
        return len(bad) + sum(1 for a in answers if a[2] is None)

    # ------------------------------------------------------------------ run
    def run(self) -> dict:
        from kgforge.pipeline.run import run_pipeline

        trace = bool(self.args.trace)
        untraced = None
        if trace:
            untraced = self._untraced_walls()
        t0 = time.perf_counter()
        spark = self.start_session(trace)
        session_s = time.perf_counter() - t0
        try:
            store = gate.PinStore(os.path.join(WORK, "observed.json"))
            pages, corpus_s = self.make_corpus(spark, store)

            tracer = Tracer(spark.sparkContext) if trace else None
            self.notes["host_probe_pre"] = procs.host_probe(spark)
            work_root = os.path.join(self.run_dir, "work")
            base = len(self._persisted_ids(spark))
            with procs.PeakRss() as rss:
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    if tracer is None:
                        run_pipeline(pages, work_root, **OPTIONS[self.wl])
                    else:
                        tracer.run_id = "call"
                        with tracer.install(), tracer.span("run_pipeline"):
                            run_pipeline(pages, work_root, **OPTIONS[self.wl])
                except Exception:
                    traceback.print_exc()
                    self.failed += 1
                    return self._result(correct=False)
                call_s = time.perf_counter() - t0
                persisted_left = len(self._persisted_ids(spark)) - base
                t0 = time.perf_counter()
                keys = self.sample_keys(spark, work_root)
                self.warm_lookups(spark, work_root, keys)
                keys_s = time.perf_counter() - t0
                if tracer is not None:
                    tracer.run_id = "lookup"
                answers, lat, ratios = self.lookups(spark, work_root, keys, tracer)
            self.notes["host_probe_post"] = procs.host_probe(spark)

            rows = _manifest_rows(work_root)
            fails = self.check_outputs(spark, work_root, rows, store)
            if fails:
                print("output gate failed: " + "; ".join(fails), file=sys.stderr)
                self.failed += 1
            self.attempted += len(answers)
            bad_lookups = self.check_lookups(spark, work_root, answers)
            self.failed += bad_lookups
            triples = rows["materialize_s"]
            tail, tail_pct = _tail(lat)
            self.notes.update({
                "call_s": call_s, "triples": triples, "lookups": len(lat),
                "lookup_tail_percentile": round(tail_pct, 1), "failed_lookups": bad_lookups,
                "persisted_rdds_left": persisted_left,
            })
            self.metrics.update({
                "setup_s": session_s + corpus_s + keys_s,
                "triples_per_s": triples / call_s,
                "stored_bytes_per_triple": _bytes_under(work_root) / triples,
                "peak_rss_mb": rss.peak / 2**20,
                "lookup_p50_ms": statistics.median(lat) * 1000.0,
                "lookup_tail_ms": tail * 1000.0,
            })
            if trace:
                setup = {"session_s": session_s, "corpus_s": corpus_s, "keys_s": keys_s}
                self._layers_pre_stop(work_root, rows, ratios, persisted_left, setup)
                self.untraced_median = statistics.median(untraced)
        finally:
            procs.stop_spark(spark)
        if trace:
            self._layers_post_stop(tracer)
        else:
            walls = gate.load_json(os.path.join(WORK, "walls.json"))
            walls.setdefault(self.wl, []).append(call_s)
            gate.save_json(os.path.join(WORK, "walls.json"), walls)
        return self._result(correct=self.failed == 0)

    def _untraced_walls(self) -> list[float]:
        """Untraced ``run_pipeline`` walls of this workload from earlier runs
        in this checkout; without any, one untraced run is made first."""
        walls = gate.load_json(os.path.join(WORK, "walls.json")).get(self.wl)
        if not walls:
            child = subprocess.Popen(
                [sys.executable, os.path.abspath(__file__), "--workload", self.wl,
                 "--seed", str(self.args.seed), "--seconds", str(self.args.seconds), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.DEVNULL, start_new_session=True,
            )
            try:
                child.wait(timeout=170)
            finally:
                if child.poll() is None:  # its JVM and workers share its session
                    os.killpg(child.pid, signal.SIGKILL)
                    child.wait()
            walls = gate.load_json(os.path.join(WORK, "walls.json"))[self.wl]
        return walls

    # -------------------------------------------------------------- layers
    def _layers_pre_stop(self, work_root, rows, ratios, persisted_left, setup):
        """Per-layer numbers read from the files and counters of the run."""
        m = {f"setup.{k}": v for k, v in setup.items()}
        for stage, sub in STAGE_DIRS.items():
            path = os.path.join(work_root, sub)
            m[f"write.bytes.{stage}"] = _bytes_under(path) if os.path.isdir(path) else 0
        m.update({
            "parse.rows_out": rows["parse"],
            "mentions.rows_out": rows["mentions"],
            "validate.accepted_rows": rows["validate_accept"],
            "validate.rejected_rows": rows["validate_reject"],
            "validate.report_rows": rows.get("constraint_reports", 0),
            "canonicalize.nodes": rows.get("canonicalize", 0),
            "dedup.kept_ratio": rows["dedup"] / self.n_pages if "dedup" in rows else 0.0,
            "lookup.files_opened_ratio": statistics.mean(ratios),
            "pipeline.persisted_rdds_left": persisted_left,
        })
        self.layer = m

    def _layers_post_stop(self, tracer):
        """Per-layer numbers from the spans and the folded event log."""
        logs = os.listdir(os.path.join(self.run_dir, "eventlog"))
        fold_event_log(os.path.join(self.run_dir, "eventlog", logs[0]), tracer)
        tracer.dump(os.path.join(WORK, f"spans-{self.wl}-{self.args.seed}.jsonl"))
        calls = [s for s in tracer.spans if s.run_id == "call"]

        def one(name):
            found = [s for s in calls if s.name == name]
            return found[0] if found else None

        def secs(name):
            s = one(name)
            return s.seconds if s else 0.0

        m = self.layer
        rp = one("run_pipeline")
        for stage in STAGE_DIRS:
            s = one(f"write_stage:{stage}")
            tot = s.events["total"] if s else {}
            for f in STAGE_FIELDS:
                m[f"stage.{stage}.{f}"] = tot.get(f, 0)
        for layer in ("parse", "mentions"):
            tot = one(f"write_stage:{layer}").events["total"]
            m[f"{layer}.write_s"] = secs(f"write_stage:{layer}")
            m[f"{layer}.cpu_s"] = tot["cpu_s"]
            m[f"{layer}.python_s"] = tot["python_s"]
        m["parse.task_skew"] = one("write_stage:parse").events["total"]["task_skew"]
        m.update({
            "validate.plan_s": secs("validate_triples"),
            "validate.accept_write_s": secs("write_stage:validate_accept"),
            "validate.reject_write_s": secs("write_stage:validate_reject"),
            "validate.reports_write_s": secs("write_stage:constraint_reports"),
            "validate.shuffle_write_bytes": m["stage.validate_accept.shuffle_write_bytes"]
            + m["stage.validate_reject.shuffle_write_bytes"],
            "canonicalize.cc_s": secs("canonicalize_entities"),
            "canonicalize.write_s": secs("write_stage:canonicalize"),
            "dedup.pages_s": secs("dedup_pages"),
            "dedup.write_s": secs("write_stage:dedup"),
            "materialize.spo_s": secs("materialize_spo"),
            "write.filestats_s": sum(s.seconds for s in calls if s.name == "write_file_stats"),
            "write.lineage_s": sum(s.events["self"]["lineage_s"] for s in calls),
            "pipeline.wall_s": rp.seconds,
            "pipeline.driver_s": tracer.self_seconds(rp),
            "trace.overhead_s": rp.seconds - self.untraced_median,
        })
        looks = [s for s in tracer.spans if s.run_id == "lookup"]
        for part in ("plan", "scan"):
            m[f"lookup.{part}_s"] = statistics.median(s.seconds for s in looks if s.name == f"lookup.{part}")
        self.notes["untraced_call_median_s"] = self.untraced_median
        self.metrics = m

    def _result(self, correct: bool) -> dict:
        spec = gate.load_json(os.path.join(ROOT, "BENCHMARK.json"))
        group = spec["per_layer"] if self.args.trace else spec["end_to_end"]
        metrics = {}
        if correct or self.metrics:
            missing = [g["name"] for g in group if g["name"] not in self.metrics]
            if missing:
                raise RuntimeError(f"metrics not measured: {missing}")
            metrics = {g["name"]: {"value": self.metrics[g["name"]], "unit": g["unit"]} for g in group}
        return {"correct": correct, "attempted": self.attempted, "failed": self.failed, "metrics": metrics}


def summary(result: dict, notes: dict, args) -> str:
    lines = [f"perfbench {args.workload} seed={args.seed} trace={args.trace}"]
    for name, m in result["metrics"].items():
        lines.append(f"  {name:48s} {m['value']:.6g} {m['unit']}")
    att = result["attempted"]
    lines.append(f"  {'error_rate':48s} {result['failed'] / att if att else 1.0:.6g} ratio "
                 f"({result['failed']} failed of {att} attempted)")
    for k, v in notes.items():
        lines.append(f"  {k}: {v}")
    return "\n".join(lines)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import kgforge.pipeline.run  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=WORK)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    tempfile.tempdir = os.environ["TMPDIR"]
    bench = Run(args, run_dir)
    try:
        result = bench.run()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(os.path.join(WORK, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps({"args": vars(args), "result": result, "notes": bench.notes}) + "\n")
    print(summary(result, bench.notes, args))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
