"""One workload in one Spark driver process (started by ``run.py``).

Usage: python workload.py --workload NAME --seed N --seconds S --trace 0|1
           --root CHECKOUT --out RESULT.json [--data TABLES_DIR]

Closed loop with one client: the next operation starts when the previous
one has finished. The measured region runs whole passes over the
workload's operations (a new seeded order each pass), as many as fill
``--seconds`` at nominal speed, and the timings are medians over passes.
Outputs are checked after the region.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import random
import shutil
import statistics
import sys
import time

from procstat import RssSampler, descendants, tree_cpu_s
from tracing import Tracer

#: Workload -> query family (module under ``queries/``) -> pinned queries.
#: ``analyst-queries`` samples each of the seven scan/shuffle/aggregate
#: modules; ``iterative-queries`` takes a fixpoint graph loop, an ANN and a
#: dedup operator, all bound by the control plane. The lists are short so
#: that a run, JVM start and warm-up pass included, takes about a minute on
#: a 4-CPU host. Every query has a DuckDB oracle.
QUERIES = {
    "analyst-queries": {
        "relational": ["pricing_summary", "revenue_by_region_segment"],
        "relational_ext": ["shipping_priority_revenue", "customer_order_count_distribution"],
        "tpch_shapes": ["profit_by_nation_year"],
        "events": ["user_retention_cohorts"],
        "sketch": ["hll_distinct_orders"],
        "quality": ["quality_uniqueness_orders"],
        "dimensional": ["date_dimension"],
    },
    "iterative-queries": {
        "graph": ["part_copurchase_kcore"],
        "similarity": ["ann_lsh_multiprobe"],
        "dedup": ["dedup_simhash_topk"],
    },
}
WORKLOADS = (*QUERIES, "etl-pipeline")

#: Nominal seconds of one pass of each workload on a 4-CPU host. One pass
#: of analyst-queries gives one sample per query, which is too few for a
#: steady query_p75_s: the sub-second queries vary by 20-30 % from one
#: execution to the next, so --seconds 30 runs four passes and the
#: quantiles pool their 36 samples.
PASS_S = {"analyst-queries": 8.0, "iterative-queries": 5.0, "etl-pipeline": 30.0}

#: Every query family a per-layer metric is reported for, on every workload.
FAMILIES = ("relational", "relational_ext", "tpch_shapes", "events", "sketch", "quality",
            "dimensional", "graph", "similarity", "dedup", "text", "audits")

#: Table scale each workload measures at. The iterative operators and the
#: cold pipeline cost about the same per job at sf0.01 as at sf0.1 (they
#: are bound by the control plane), so they run at sf0.01 to fit the
#: run budget.
SCALE = {"analyst-queries": "sf0.1", "iterative-queries": "sf0.01", "etl-pipeline": "sf0.01"}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--root", required=True)
    ap.add_argument("--data", help="directory of the sf0.01/ and sf0.1/ tables "
                    "(default: the parent of the program's tables.DEFAULT_SF_DIR)")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    spawned = float(os.environ["PERFBENCH_SPAWNED"])

    from financial_data_engineering_spark.session import get_spark
    from financial_data_engineering_spark.tables import DEFAULT_SF_DIR

    sf_dir = os.path.join(args.data or os.path.dirname(DEFAULT_SF_DIR), SCALE[args.workload])
    if not os.path.isdir(sf_dir):
        print(f"perfbench: no input tables at {sf_dir}", file=sys.stderr)
        return 2

    tracer = Tracer(None, enabled=bool(args.trace))
    # The heap is committed and touched up front, as in a long-running
    # session: a heap that grows on demand reaches a size set by GC timing,
    # which moved peak RSS by up to 0.29 (IQR/median) between identical
    # runs. peak_rss_mb then measures the fixed heap plus what grows outside
    # it (off-heap buffers, code cache, Python workers).
    conf = {"spark.driver.extraJavaOptions": "-Xms{} -XX:+AlwaysPreTouch".format(
        os.environ["SPARK_DRIVER_MEMORY"])}
    log_dir = os.path.abspath("eventlog")
    if args.trace:
        os.makedirs(log_dir, exist_ok=True)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    with tracer.span("session.start"):
        spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
        tracer.sc = sc = spark.sparkContext
        # the first job of a process pays for class loading and the
        # scheduler's start, once per process, not per operation
        spark.range(1).count()

    run = Run(spark, tracer, args, sf_dir, spawned)
    try:
        if args.workload == "etl-pipeline":
            run.etl()
        else:
            run.queries(QUERIES[args.workload])
    finally:
        run.sampler.close()
        record = {
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "spark_version": spark.version,
        }
        spark.stop()
    result = run.result()
    result["record"].update(record)
    if args.trace:
        result["per_layer"] = run.layers(_event_log(log_dir))
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


def _event_log(log_dir: str) -> str:
    (name,) = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    return os.path.join(log_dir, name)


def _release(spark) -> None:
    """Drop what an operation persisted, as ``bench.py`` does between
    queries, so no operation inherits another's cached state."""
    from financial_data_engineering_spark.llm.caching import release_intermediates
    from financial_data_engineering_spark.queries.graph import release_shared_edges

    release_intermediates()
    release_shared_edges()
    spark.catalog.clearCache()


class Run:
    """State of one measured run: timings, failures and checks."""

    def __init__(self, spark, tracer: Tracer, args, sf_dir: str, spawned: float):
        self.spark = spark
        self.tracer = tracer
        self.args = args
        self.sf_dir = sf_dir
        self.spawned = spawned
        self.rng = random.Random(args.seed)
        self.sampler = RssSampler(os.getpid()).start()
        self.setup_s = 0.0
        self.passes: list[dict] = []  # wall_s, cpu_s, start, end per pass
        self.ops: list[dict] = []  # name, family, pass, seconds, jobs, ok
        self.failures: list[dict] = []
        self.wrong: set[str] = set()  # operations whose output check failed
        self.peak_rss_mb = self.peak_jvm_rss_mb = 0.0
        self.bytes_written = 0
        self.files_written = 0
        self.warm_jobs: dict[str, int] = {}
        self.records = 0  # rows extracted from the REST sources

    # -- shared loop ---------------------------------------------------

    def _ready(self) -> None:
        self.setup_s = time.monotonic() - self.spawned

    def _measure(self, run_pass) -> None:
        """Closed loop of whole passes. The pass count is fixed for a
        workload and ``--seconds`` (a pass lasts about PASS_S seconds on a
        4-CPU host), not taken from the clock: each pass runs warmer than
        the one before, so a count that followed the host's speed would
        move the medians."""
        passes = max(1, round(self.args.seconds / PASS_S[self.args.workload]))
        self.sampler.active = True
        for number in range(1, passes + 1):
            cpu0 = tree_cpu_s(descendants(os.getpid()))
            t0, w0 = time.monotonic(), time.time()
            run_pass(number)
            wall = time.monotonic() - t0
            cpu = tree_cpu_s(descendants(os.getpid())) - cpu0
            self.passes.append({"wall_s": wall, "cpu_s": cpu, "start": w0, "end": time.time()})
        self.sampler.active = False
        self.peak_rss_mb, self.peak_jvm_rss_mb = self.sampler.take_peak()

    def _op(self, name: str, family: str, number: int, fn) -> None:
        """One operation under its own job group ``<seq>|p<pass>:<name>``."""
        ok = True
        with self.tracer.span("op", group=f"p{number}:{name}", family=family,
                              op=name, number=number) as span:
            try:
                fn()
            except Exception as exc:  # noqa: BLE001 - recorded with its reason
                ok = False
                self._fail(name, f"pass {number}", exc)
            finally:
                _release(self.spark)
        self.ops.append({"name": name, "family": family, "pass": number,
                         "seconds": span.seconds, "jobs": span.attrs["jobs"], "ok": ok})

    def _fail(self, name: str, phase: str, exc: BaseException | str) -> None:
        if isinstance(exc, BaseException):
            error, message = type(exc).__name__, str(exc)
        else:
            error, message = "WrongResult", exc
        self.failures.append({"op": name, "phase": phase, "error": error,
                              "message": message[:2000]})

    # -- query workloads -----------------------------------------------

    def queries(self, families: dict[str, list[str]]) -> None:
        from financial_data_engineering_spark import queries as q

        registry = q.all_queries()
        family = {n: f for f, names in families.items() for n in names}
        order = sorted(family)
        self.rng.shuffle(order)
        # Warm-up and check in one pass at the measured scale: it pays the
        # codegen, JIT and page-cache cost of each plan before timing (a
        # pass at a smaller scale leaves the first measured pass ~1.6x
        # slower, because AQE picks other plans for other sizes), and its
        # collected rows are compared with the oracles after the measured
        # region. Counted in setup_s.
        outputs = {}
        with self.tracer.span("session.warm"):
            for name in order:
                with self.tracer.span("warm", group=f"p0:{name}") as span:
                    try:
                        df = registry[name](self.spark, self.sf_dir)
                        outputs[name] = (df.columns, df.dtypes,
                                         [tuple(r) for r in df.collect()])
                    except Exception as exc:  # noqa: BLE001 - recorded
                        self.wrong.add(name)
                        self._fail(name, "warm-up", exc)
                    finally:
                        _release(self.spark)
                self.warm_jobs[name] = span.attrs["jobs"]
        self._ready()

        def run_pass(number: int) -> None:
            self.rng.shuffle(order)
            for name in order:
                self._op(name, family[name], number, lambda: self._query(registry[name]))

        self._measure(run_pass)
        self._check_queries(outputs, order)

    def _query(self, fn) -> None:
        with self.tracer.span("queries.plan"):
            df = fn(self.spark, self.sf_dir)
        with self.tracer.span("queries.action"):
            df.write.format("noop").mode("overwrite").save()

    def _check_queries(self, outputs: dict, names: list[str]) -> None:
        """Compare each query's rows with its DuckDB oracle, the way
        ``tools/check_correctness.py`` does."""
        cc = _load_tool(self.args.root, "check_correctness")
        from financial_data_engineering_spark import queries as q

        oracles = q.all_oracles()
        runner = cc.OracleRunner(self.sf_dir)
        try:
            for name in names:
                if name not in outputs:
                    continue  # failed in the warm-up, already recorded
                problem = self._compare(cc, outputs[name], runner, oracles.get(name))
                if problem:
                    self.wrong.add(name)
                    self._fail(name, "check", problem)
        finally:
            runner.con.close()

    @staticmethod
    def _compare(cc, output, runner, sql) -> str | None:
        if sql is None:
            return "no DuckDB oracle"
        cols, dtypes, rows = output
        try:
            o_cols, o_types, o_rows, _ = runner.run(sql)
        except Exception as exc:  # noqa: BLE001 - an oracle error is a failed check
            return f"oracle error {type(exc).__name__}: {exc}"
        problems = []
        if len(rows) != len(o_rows):
            problems.append(f"rows {len(rows)} vs oracle {len(o_rows)}")
        if sorted(cols) != sorted(o_cols):
            problems.append(f"columns {sorted(cols)} vs oracle {sorted(o_cols)}")
        else:
            problems.extend(cc._dtype_problems(dtypes, o_cols, o_types))
            if cc.value_hash(rows, cols) != cc.value_hash(o_rows, o_cols):
                problems.append("value hash mismatch")
        return "; ".join(problems) or None

    # -- etl pipeline --------------------------------------------------

    def etl(self) -> None:
        import etl

        src = etl.make_sources(self.args.seed)
        out_root = os.path.abspath("etl-out")
        stages = {
            "extract": lambda out: etl.stage_extract(self.spark, self.tracer, src, out),
            "warehouse": lambda out: etl.stage_warehouse(self.spark, self.tracer,
                                                         self.sf_dir, out),
        }
        results: dict[tuple[int, str], dict] = {}
        self._ready()

        def run_pass(number: int) -> None:
            for stage, fn in stages.items():
                out = os.path.join(out_root, f"p{number}", stage)

                def go(stage=stage, fn=fn, out=out):
                    results[(number, stage)] = fn(out)

                self._op(stage, stage, number, go)

        self._measure(run_pass)
        expected = etl.expected_rows(self.sf_dir)
        self.records = sum(sum(out["records"].values())
                           for (_, stage), out in results.items() if stage == "extract")
        for (number, stage), out in results.items():
            for problem in etl.check_stage(stage, out, expected, src):
                self.wrong.add(stage)
                self._fail(stage, f"check pass {number}", problem)
        self.files_written, self.bytes_written = _parquet_files(out_root)
        shutil.rmtree(out_root, ignore_errors=True)

    # -- results -------------------------------------------------------

    def result(self) -> dict:
        seconds = sorted(o["seconds"] for o in self.ops)
        failed = sum(1 for o in self.ops if not o["ok"] or o["name"] in self.wrong)
        attempted = len(self.ops)
        # inclusive: a quartile of few samples stays within their range
        quartiles = (statistics.quantiles(seconds, n=4, method="inclusive")
                     if len(seconds) > 1 else seconds * 3)
        counts: dict[str, list[int]] = {}
        for name, jobs in self.warm_jobs.items():
            counts.setdefault(name, []).append(jobs)
        for o in self.ops:
            counts.setdefault(o["name"], []).append(o["jobs"])
        family = {o["name"]: o["family"] for o in self.ops}
        inexact: dict[str, list[str]] = {}
        for name, values in counts.items():
            if len(set(values)) > 1:
                inexact.setdefault(family.get(name, "?"), []).append(name)
        return {
            "metrics": {
                "setup_s": self.setup_s,
                "run_s": statistics.median(p["wall_s"] for p in self.passes),
                "query_p50_s": statistics.median(seconds),
                "query_p75_s": quartiles[2],
                "cpu_s": statistics.median(p["cpu_s"] for p in self.passes),
                "peak_rss_mb": self.peak_rss_mb,
                "ok_frac": (attempted - failed) / attempted,
            },
            "attempted": attempted,
            "failed": failed,
            "failures": self.failures,
            "record": {
                "passes": len(self.passes),
                "pass_wall_s": [p["wall_s"] for p in self.passes],
                "op_seconds": [[o["pass"], o["name"], o["seconds"]] for o in self.ops],
                "samples": attempted,
                "samples_above_p75": sum(1 for s in seconds if s > quartiles[2]),
                "peak_jvm_rss_mb": self.peak_jvm_rss_mb,
                "job_counts": counts,
                "inexact_job_families": inexact,
            },
        }

    def layers(self, log_path: str) -> dict:
        """Per-layer metrics of the traced run, each per measured pass."""
        import eventlog

        groups = eventlog.fold_file(log_path)
        n = len(self.passes)
        spans = self.tracer.spans
        measured = [s for s in spans if s.name == "op"]
        in_region = {g for s in measured for g in s.groups}

        def per_pass(value: float) -> float:
            return value / n

        def sum_groups(field: str, gids) -> float:
            return sum(getattr(groups[g], field) for g in gids if g in groups)

        def intervals(gids) -> list:
            return [iv for g in gids if g in groups for iv in groups[g].job_intervals]

        def span_jobs(name: str) -> int:
            return sum(s.attrs.get("jobs", 0) for s in spans if s.name == name)

        out = {
            "session.start_s": self.tracer.total("session.start"),
            "session.warm_s": self.tracer.total("session.warm"),
            "queries.plan_s": per_pass(self.tracer.total("queries.plan")),
            "queries.action_s": per_pass(self.tracer.total("queries.action")),
        }
        for fam in FAMILIES:
            ops = [s for s in measured if s.attrs["family"] == fam]
            out[f"queries.{fam}.wall_s"] = per_pass(sum(s.seconds for s in ops))
            out[f"queries.{fam}.jobs"] = per_pass(sum(s.attrs["jobs"] for s in ops))
            out[f"queries.{fam}.driver_gap_s"] = per_pass(sum(
                eventlog.uncovered_s(s.start, s.end, intervals(s.groups)) for s in ops))
        all_iv = intervals(in_region)
        out.update({
            "spark.jobs": per_pass(sum_groups("jobs", in_region)),
            "spark.stages": per_pass(sum_groups("stages", in_region)),
            "spark.tasks": per_pass(sum_groups("tasks", in_region)),
            "spark.driver_gap_s": per_pass(sum(
                eventlog.uncovered_s(p["start"], p["end"], all_iv) for p in self.passes)),
        })
        for field in ("executor_run_s", "executor_cpu_s", "input_bytes", "shuffle_read_bytes",
                      "shuffle_write_bytes", "python_bytes", "gc_s", "spill_bytes",
                      "output_bytes"):
            out[f"spark.{field}"] = per_pass(sum_groups(field, in_region))
        out.update({
            "sources.extract_s": per_pass(self.tracer.total("sources.extract")),
            "sources.records": per_pass(self.records),
            "pipeline.collect_s": per_pass(self.tracer.total("pipeline.collect")),
            "quality.validate_s": per_pass(self.tracer.total("quality.validate")),
            "quality.jobs": per_pass(span_jobs("quality.validate")),
            "transform.build_s": per_pass(self.tracer.total("transform.build")),
            "transform.ri_check_s": per_pass(self.tracer.total("transform.ri_check")),
            "transform.clustered_write_s": per_pass(self.tracer.total("transform.clustered_write")),
            "transform.bytes_written": per_pass(self.bytes_written),
            "transform.files_written": per_pass(self.files_written),
        })
        return out


def _parquet_files(root: str) -> tuple[int, int]:
    """(files, bytes) of the Parquet data files under ``root``."""
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


def _load_tool(root: str, name: str):
    """Import ``tools/<name>.py`` from the checkout (``tools`` is not a
    package)."""
    spec = importlib.util.spec_from_file_location(name, os.path.join(root, "tools", f"{name}.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


if __name__ == "__main__":
    sys.exit(main())
