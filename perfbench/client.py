"""One benchmark run in a fresh process: the closed-loop client.

Started by ``run.py`` with a spec file (inputs already generated). It
starts the session, does the workload's set-up, runs the timed ops one
after another (each op is submitted when the previous one returned),
checks every op's output after the timed region, and writes
``result.json`` next to the spec.

    python3 perfbench/client.py <spec.json>
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import sys
import threading
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import (  # noqa: E402
    ARTIFACT_FAMILIES,
    ARTIFACT_FAMILY,
    Tracer,
    artifact_dirs,
    install_hooks,
    parse_event_log,
    tree_bytes,
)
from workloads import (  # noqa: E402
    ANALYTICS_QUERIES,
    STREAMING_QUERIES,
    WIDGETS,
    artifacts_for,
    pandas_rows,
    widget_sql,
)

WRONG_HASH = "0" * 16
# the staging builders take the input directory only
SF_DIR_ONLY = {"ensure_feed_dir", "stage_time_ordered_chunks"}


class RssSampler:
    """Peak resident memory of a process tree (the driver JVM, the
    Python worker daemon and its workers), sampled every 100 ms."""

    def __init__(self, root_pid: int):
        self.root = root_pid
        self.peak = 0
        self.peak_root = 0  # the JVM alone
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        pids, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            pids.append(pid)
            todo.extend(children.get(pid, []))
        return pids

    def sample(self) -> None:
        total = 0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            kb = int(line.split()[1])
                            total += kb
                            if pid == self.root:
                                self.peak_root = max(self.peak_root, kb)
                            break
            except OSError:
                pass
        self.peak = max(self.peak, total)

    def _run(self) -> None:
        while not self._stop.wait(0.1):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak / 1024.0


def _streaming_listener(tracer: Tracer):
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            tracer.count("streaming.batches")
            tracer.count("streaming.trigger_s", (p.durationMs or {}).get("triggerExecution", 0) / 1000)
            # state size after the batch; the metric is its peak
            ops = p.stateOperators or []
            tracer.peak("streaming.state_rows", sum(op.numRowsTotal for op in ops))
            tracer.peak("streaming.state_bytes", sum(op.memoryUsedBytes for op in ops))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


class Client:
    def __init__(self, spec: dict):
        self.spec = spec
        self.sf_dir = spec["sf_dir"]
        self.warehouse = os.path.join(spec["run_dir"], "warehouse")
        self.results: list[dict] = []
        # caches other processes left under /tmp are not this run's artifacts
        self.foreign = set(glob.glob("/tmp/trafik_*"))
        self.outputs: list = []  # per op: what the check needs

    # ---- session and set-up -------------------------------------------

    def start_session(self) -> None:
        from trafik_etl_modular_spark.session import get_spark

        spec, run_dir = self.spec, self.spec["run_dir"]
        conf = {
            "spark.sql.warehouse.dir": self.warehouse,
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "spark.ui.showConsoleProgress": "false",
        }
        if spec["trace"]:
            os.makedirs(os.path.join(run_dir, "eventlog"), exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", cpus=spec["cpus"], extra_conf=conf)
        self.session_start_s = time.perf_counter() - t0
        self.rss = RssSampler(self.spark.sparkContext._gateway.proc.pid)
        self.rss.start()
        self.tracer = Tracer(bool(spec["trace"]), self.spark.sparkContext)

        from trafik_etl_modular_spark.registry import REGISTRY, _load_all

        _load_all()
        self.registry = REGISTRY
        if spec["trace"]:
            install_hooks(self.tracer)
            self.spark.streams.addListener(_streaming_listener(self.tracer))

    def setup(self) -> None:
        wl = self.spec["workload"]
        with self.tracer.span("setup"):
            if wl == "dashboard":
                # one refresh over the smallest window: JIT, codegen and
                # the Arrow path warm, as in a long-running dashboard server
                self._refresh({"scan_days": 1, "top_counties": 10, "table_rows": 100})
            elif wl == "analytics":
                import importlib

                for mod, fn in artifacts_for(self.spec["ops"]):
                    m = importlib.import_module(f"trafik_etl_modular_spark.{mod}")
                    getattr(m, fn)(self.spark, self.sf_dir)
                self.spark.range(100_000).selectExpr("id % 7 AS k").groupBy("k").count().toPandas()
            elif wl == "etl_merge":
                from trafik_etl_modular_spark.pipelines.ingest import make_county_dim

                # the initial load (batch 0) creates the sink; the timed
                # ops are the polls that follow it
                self.county_dim = make_county_dim(self.spark)
                self._etl(self.spec["initial_feed"], self.spec["sink"])

    # ---- ops ------------------------------------------------------------

    def _query(self, name: str):
        t = self.tracer
        with t.span("registry.build", jobs=True):
            df = self.registry[name].fn(self.spark, self.sf_dir)
        with t.span("action", jobs=True) as rec:
            pdf = df.toPandas()
        if rec is not None:
            rec["rows"] = len(pdf)
        return df.schema, pdf

    def _refresh(self, op: dict) -> dict:
        from trafik_etl_modular_spark.pipelines.dashboard import dashboard_session

        t = self.tracer
        with t.span("dashboard.build", jobs=True):
            w = dashboard_session(
                self.spark,
                self.sf_dir,
                scan_days=op["scan_days"],
                top_counties=op["top_counties"],
                table_rows=op["table_rows"],
            )
        out = {}
        for i, name in enumerate(WIDGETS):
            df = w[name]
            with t.span("dashboard.first_widget" if i == 0 else "dashboard.cached_widget"):
                with t.span("action", jobs=True) as rec:
                    pdf = df.toPandas()
            if rec is not None:
                rec["rows"] = len(pdf)
                if i > 0 and "InMemoryTableScan" in df._jdf.queryExecution().executedPlan().toString():
                    rec["cache_hit"] = 1
            out[name] = (df.schema, pdf)
        w["__base__"].unpersist()
        return out

    def _etl(self, feed_dir: str, sink: str) -> dict:
        from trafik_etl_modular_spark.pipelines.etl_job import run_etl

        # the job's defaults are the reference's: 20 pages a run, a
        # 50-2,000 row band (a row count outside it is only a warning)
        return run_etl(self.spark, feed_dir, sink, self.county_dim)

    def run_op(self, i: int, op: dict):
        if op["kind"] == "refresh":
            return self._refresh(op)
        if op["kind"] == "query":
            return self._query(op["name"])
        return self._etl(self.spec["feed_dirs"][i], self.spec["sink"])

    def release_storage(self) -> None:
        """Queries are independent: drop cached and checkpointed blocks
        between them so one op's leftovers do not weigh on the next."""
        self.spark.catalog.clearCache()
        jmap = self.spark.sparkContext._jsc.getPersistentRDDs()
        for rid in list(jmap.keySet().toArray()):
            jmap.get(rid).unpersist(False)

    def timed(self) -> None:
        ops = self.spec["ops"]
        self.artifacts_at_setup = artifact_dirs(self.warehouse, self.foreign)
        self.sink_files = _sink_files(self.spec["sink"]) if self.spec.get("sink") else {}
        self.t_first = time.perf_counter()
        self.t_first_epoch_ms = time.time() * 1000
        check_s = 0.0
        for i, op in enumerate(ops):
            self.tracer.op_id = i
            t0 = time.perf_counter()
            err = None
            out = None
            try:
                with self.tracer.span(f"op.{op['kind']}"):
                    out = self.run_op(i, op)
            except Exception as e:  # noqa: BLE001 — a failing op is counted, the run goes on
                err = f"{type(e).__name__}: {e}"
                traceback.print_exc()
            latency = time.perf_counter() - t0
            self.tracer.op_id = None
            self.results.append({"op": op, "latency_s": latency, "ok": err is None, "error": err})
            self.outputs.append(out)
            c0 = time.perf_counter()
            if op["kind"] == "etl" and err is None:
                self._check_sink(i)
            if self.spec["workload"] == "analytics":
                self.release_storage()
            check_s += time.perf_counter() - c0
        self.t_last = time.perf_counter()
        self.t_last_epoch_ms = time.time() * 1000
        self.wall_s = self.t_last - self.t_first - check_s
        self.lazy_builds = sorted(artifact_dirs(self.warehouse, self.foreign) - self.artifacts_at_setup)
        self.artifact_bytes = tree_bytes(self.artifacts_at_setup) if self.spec["trace"] else 0

    # ---- probes (traced analytics pass, after the timed phase) ----------

    def probe_layers(self) -> None:
        """Reach the layers the timed prefix of the analytics list does
        not: build one artifact of every family the whole list reads that
        set-up did not build, and run the list's first streaming query if
        the prefix has none. Only ``artifacts.*`` and ``streaming.*`` see
        this work; every other metric covers the timed phase."""
        import importlib

        timed = {op["name"] for op in self.spec["ops"]}
        built = {s["name"] for s in self.tracer.spans if s["name"].startswith("artifact.")}
        for mod, fn in artifacts_for([{"name": n} for n in ANALYTICS_QUERIES]):
            if f"artifact.{ARTIFACT_FAMILY[fn]}" in built:
                continue
            m = importlib.import_module(f"trafik_etl_modular_spark.{mod}")
            args = (self.sf_dir,) if fn in SF_DIR_ONLY else (self.spark, self.sf_dir)
            getattr(m, fn)(*args)
            built.add(f"artifact.{ARTIFACT_FAMILY[fn]}")
        if not timed & set(STREAMING_QUERIES):
            self._query(STREAMING_QUERIES[0])
            # progress events reach the listener asynchronously
            deadline, seen = time.time() + 10, -1
            while time.time() < deadline and self.tracer.counters["streaming.batches"] != seen:
                seen = self.tracer.counters["streaming.batches"]
                time.sleep(1.0)

    # ---- output checks (outside the timed region) -----------------------

    def _check_sink(self, i: int) -> None:
        """Compare the sink after batch ``i`` with the benchmark's own
        latest-wins over the batches sent so far: ids, versions, rows."""
        import pyarrow.dataset as ds

        files = _sink_files(self.spec["sink"])
        new = {f: n for f, n in files.items() if self.sink_files.get(f) != n}
        self.results[i]["sink"] = {
            "bytes_written": sum(new.values()),
            "partitions_touched": len({os.path.dirname(f) for f in new}),
            "batch_rows": (self.outputs[i] or {}).get("batch_rows", 0),
        }
        self.sink_files = files
        if self.spec.get("fault") == "corrupt_sink_row" and i == len(self.spec["ops"]) - 1:
            _corrupt_one_row(self.spec["sink"])
        with open(self.spec["expected"][i], encoding="utf-8") as f:
            expected = json.load(f)
        tbl = ds.dataset(self.spec["sink"], format="parquet", partitioning="hive").to_table(
            columns=["incident_id", "modified_time_utc", "message"]
        )
        got = {}
        for iid, mod, msg in zip(*(tbl.column(c).to_pylist() for c in tbl.column_names)):
            got[iid] = [mod.strftime("%Y-%m-%d %H:%M:%S") if mod else None, msg]
        problems = []
        if tbl.num_rows != len(expected):
            problems.append(f"rows {tbl.num_rows} != {len(expected)}")
        if got != expected:
            bad = sorted(k for k in set(got) | set(expected) if got.get(k) != expected.get(k))
            problems.append(f"{len(bad)} ids differ, e.g. {bad[:3]}")
        if problems:
            self.results[i].update(ok=False, error="sink check: " + "; ".join(problems))

    def check_outputs(self) -> dict:
        if self.spec["workload"] == "etl_merge":  # checked batch by batch, in timed()
            return {"unchecked": 0}
        import duckdb

        from tools.oracle_check import value_hash

        con = duckdb.connect()
        for t in os.listdir(self.sf_dir):
            if t.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{os.path.join(self.sf_dir, t)}')"
                )
        inputs = hashlib.sha256()
        for name in sorted(os.listdir(self.sf_dir)):
            with open(os.path.join(self.sf_dir, name), "rb") as f:
                inputs.update(hashlib.sha256(f.read()).digest())
        cache_dir = self.spec["oracle_cache"]
        os.makedirs(cache_dir, exist_ok=True)

        def oracle(sql: str) -> str:
            """DuckDB's value hash for ``sql``, kept on disk by the digest
            of the statement and the input files (the same seed makes the
            same inputs, so a repeated seed skips the oracle)."""
            key = hashlib.sha256(inputs.digest() + sql.encode()).hexdigest()
            path = os.path.join(cache_dir, key)
            if not os.path.exists(path):
                res = con.execute(sql)
                rows = res.fetchall()
                with open(path, "w", encoding="utf-8") as f:
                    f.write(value_hash(rows, [d[0] for d in res.description]))
            with open(path, encoding="utf-8") as f:
                return f.read()

        fault = self.spec.get("fault") or ""
        unchecked = 0
        for i, (res, out) in enumerate(zip(self.results, self.outputs)):
            op = res["op"]
            if not res["ok"] or op["kind"] == "etl":
                continue
            if op["kind"] == "query":
                items = [(op["name"], self.registry[op["name"]].render_sql(self.sf_dir), out)]
            else:
                args = (op["scan_days"], op["top_counties"], op["table_rows"])
                items = [((w,) + args, widget_sql(w, *args), out[w]) for w in WIDGETS]
            bad = []
            for key, sql, (schema, pdf) in items:
                if sql is None:
                    unchecked += 1
                    continue
                rows, cols = pandas_rows(pdf, schema)
                try:
                    want = WRONG_HASH if fault == f"wrong_hash:{i}" else oracle(sql)
                except duckdb.Error as e:
                    bad.append(f"{key}: oracle error {e}")
                    continue
                got = value_hash(rows, cols)
                if got != want:
                    bad.append(f"{key}: hash {got} != oracle {want}")
            if bad:
                res.update(ok=False, error="; ".join(bad))
        return {"unchecked": unchecked}

    # ---- per-layer metrics (traced run) ---------------------------------

    def layers(self) -> dict:
        """Per-layer metrics: the timed phase's, except ``session.start_s``
        and ``artifacts.*`` (set-up and, on ``analytics``, the probes)
        and ``streaming.*`` (wherever a streaming query ran)."""
        t = self.tracer
        window = (self.t_first, self.t_last)
        c = t.counters
        m: dict[str, float] = {"session.start_s": self.session_start_s}
        for fam in ARTIFACT_FAMILIES:
            m[f"artifacts.{fam}_s"] = t.totals(f"artifact.{fam}")["s"]
        m["artifacts.bytes"] = self.artifact_bytes
        m["artifacts.lazy_builds"] = len(self.lazy_builds)
        cat = t.totals("catalog", window)
        m.update({"catalog.calls": cat["n"], "catalog.s": cat["s"], "catalog.jobs": cat["jobs"]})
        reg = t.totals("registry.build", window)
        m.update({"registry.build_s": reg["s"], "registry.build_jobs": reg["jobs"]})
        act = t.totals("action", window)
        m.update(
            {
                "action.run_s": act["s"],
                "action.jobs": act["jobs"],
                "action.stages": act["stages"],
                "action.tasks": act["tasks"],
                "action.result_rows": sum(s.get("rows", 0) for s in t.within("action", window)),
            }
        )
        ev = parse_event_log(os.path.join(self.spec["run_dir"], "eventlog"), self.t_first_epoch_ms, self.t_last_epoch_ms)
        m.update({k: v for k, v in ev.items() if k.startswith("exec.")})
        m["exec.busy_cores"] = ev["exec.task_s"] / self.wall_s if self.wall_s else 0.0
        pin = t.totals("pinning", window)
        lc = t.totals("localCheckpoint", window)
        m.update(
            {
                "pinning.calls": pin["n"],
                "pinning.local_checkpoints": lc["n"],
                "pinning.s": pin["s"] + _outside(t, "localCheckpoint", "pinning", window),
            }
        )
        m.update(
            {
                "dashboard.build_s": t.totals("dashboard.build", window)["s"],
                "dashboard.first_widget_s": t.totals("dashboard.first_widget", window)["s"],
                "dashboard.cached_widget_s": t.totals("dashboard.cached_widget", window)["s"],
                "dashboard.cache_hits": sum(s.get("cache_hit", 0) for s in t.within("action", window)),
                "dashboard.repeat_scan_days_share": self.spec.get("repeat_scan_days_share", 0.0),
            }
        )
        merge = t.within("sink.merge", window)
        read_s = 0.0
        for op_span in t.within("op.etl", window):
            ends = [s["end"] for s in merge if s["op"] == op_span["op"]]
            if ends:
                read_s += op_span["end"] - max(ends)
        sink_stats = _sink_stats(self.spec.get("sink"))
        per_batch = [r.get("sink", {}) for r in self.results]
        m.update(
            {
                "xml_feed.scan_s": ev["feed_stage_task_s"],
                "xml_feed.rows": sum(self.spec.get("feed_rows", [])),
                "ingest.normalize_s": t.totals("ingest.normalize", window)["s"],
                "ingest.rows_out": sum(b.get("batch_rows", 0) for b in per_batch),
                "sink.merge_s": sum(s["end"] - s["start"] for s in merge),
                "sink.read_s": read_s,
                "sink.partitions_touched": sum(b.get("partitions_touched", 0) for b in per_batch),
                "sink.partitions_total": sink_stats["partitions"],
                "sink.files": sink_stats["files"],
                "sink.bytes_written": sum(b.get("bytes_written", 0) for b in per_batch),
            }
        )
        for key in ("streaming.batches", "streaming.trigger_s", "streaming.state_rows", "streaming.state_bytes"):
            m[key] = c.get(key, 0)
        if self.spec["workload"] == "analytics":
            for i, res in enumerate(self.results):
                name = res["op"]["name"]
                for span, key in (("registry.build", "build_s"), ("action", "run_s")):
                    m[f"q.{name}.{key}"] = sum(
                        s["end"] - s["start"] for s in t.within(span, window) if s["op"] == i
                    )
        return m


def _outside(t: Tracer, inner: str, outer: str, window: tuple[float, float]) -> float:
    """Seconds in ``inner`` spans that no ``outer`` span encloses."""
    total = 0.0
    for s in t.within(inner, window):
        p = s["parent"]
        while p is not None and t.spans[p]["name"] != outer:
            p = t.spans[p]["parent"]
        if p is None:
            total += s["end"] - s["start"]
    return total


def _sink_files(sink: str) -> dict[str, int]:
    """{parquet file: size} of the sink table (file names are unique per
    write, so a new or rewritten file shows as a new name)."""
    out = {}
    for root, _, names in os.walk(sink):
        for n in names:
            if n.endswith(".parquet"):
                out[os.path.join(root, n)] = os.path.getsize(os.path.join(root, n))
    return out


def _sink_stats(sink: str | None) -> dict:
    out = {"rows": 0, "partitions": 0, "files": 0, "bytes": 0}
    if not sink or not os.path.isdir(sink):
        return out
    import pyarrow.dataset as ds

    files = _sink_files(sink)
    out["files"] = len(files)
    out["bytes"] = sum(files.values())
    out["partitions"] = len({os.path.dirname(f) for f in files})
    out["rows"] = ds.dataset(sink, format="parquet", partitioning="hive").count_rows()
    return out


def _corrupt_one_row(sink: str) -> None:
    """Test fault: give one stored row an older version."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for root, _, names in sorted(os.walk(sink)):
        for n in sorted(names):
            if n.endswith(".parquet"):
                path = os.path.join(root, n)
                tbl = pq.read_table(path)
                col = tbl.column_names.index("modified_time_utc")
                vals = tbl.column(col).to_pylist()
                vals[0] = vals[0].replace(year=1999)
                tbl = tbl.set_column(col, tbl.schema.field(col), pa.array(vals, tbl.schema.field(col).type))
                pq.write_table(tbl, path)
                return


def main() -> int:
    spec_path = sys.argv[1]
    with open(spec_path, encoding="utf-8") as f:
        spec = json.load(f)
    c = Client(spec)
    c.start_session()
    c.setup()
    setup_s = time.time() - spec["spawn_epoch"]
    c.timed()
    peak_rss_mb = c.rss.stop()  # set-up and the timed phase
    t_check = time.perf_counter()
    checks = c.check_outputs() if spec["checks"] else {"unchecked": 0}
    check_s = time.perf_counter() - t_check
    probe_errors = []
    if spec["trace"] and spec["workload"] == "analytics":
        try:
            c.probe_layers()
        except Exception as e:  # noqa: BLE001 — reported, the layer metrics stay 0
            probe_errors.append(f"{type(e).__name__}: {e}")
            traceback.print_exc()
    out = {
        "setup_s": setup_s,
        "session_start_s": c.session_start_s,
        "wall_s": c.wall_s,
        "peak_rss_mb": peak_rss_mb,
        "peak_jvm_rss_mb": c.rss.peak_root / 1024.0,
        "ops": c.results,
        "lazy_builds": c.lazy_builds,
        "sink": _sink_stats(spec.get("sink")),
        "check_s": check_s,
        "probe_errors": probe_errors,
        **checks,
    }
    if spec["trace"]:
        # every event of the timed phase reaches the event log first
        c.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        out["layers"] = c.layers()
        out["self_times"] = c.tracer.self_times((c.t_first, c.t_last))
        out["spans"] = c.tracer.spans
    with open(os.path.join(spec["run_dir"], "result.json"), "w", encoding="utf-8") as f:
        json.dump(out, f)
    # No spark.stop(): the parent kills this process group (the JVM and
    # its Python workers) as soon as this process exits, and a clean
    # stop would add seconds to every run.
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(0)


if __name__ == "__main__":
    raise SystemExit(main())
