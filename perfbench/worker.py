"""The measured process: one fresh Python + JVM per call.

``--mode probe`` sets up and exits (one ``setup_s`` sample). ``--mode run``
sets up, runs the workload's timed phase, checks the outputs against the
correctness model and writes a result JSON. ``--trace 1`` adds the Spark
event log, spans around calls into the engine's modules and side
measurements of single layers; its numbers are per-layer only. The side
measurements are checked like the timed phase: ``ingest_bulk`` adds
small batches (per-batch fixed cost) and copy-on-write upserts onto a
key-clustered preload; ``cdc_stream`` adds a pass over registered queries,
each checked against its DuckDB oracle.

Set-up is everything from process spawn until the first timed batch can
start: imports, ``get_spark`` (which ships the package), pipeline
construction and a warm-up pass on a throwaway sink.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from spans import Tracer, attribute, parse_event_log, write_spans  # noqa: E402

CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU of a process tree, reaped children included."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / CLK_TCK


def median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def read_dlq_reasons(spark, dlq_path: str) -> dict[str, int]:
    from pyspark.sql import functions as F

    from kafka_connect_bigquery_storage_write_spark.sinks.dlq import DeadLetterQueue

    dlq = DeadLetterQueue(dlq_path)
    if dlq.is_empty():
        return {}
    rows = dlq.read(spark).groupBy(F.array_join("_dlq_errors", "; ").alias("r")).count().collect()
    return {r["r"]: r["count"] for r in rows}


def time_noop(df) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return (time.perf_counter() - t) * 1000


# -- workloads -------------------------------------------------------------------
class IngestBulk:
    """Committed-mode appends of JSON-envelope batches through ``run_batch``."""

    def __init__(self, spark, work: str, spec: dict, args) -> None:
        from pyspark.sql import types as T

        self.spark, self.work, self.spec, self.args = spark, work, spec, args
        self.envelope = "topic string, partition int, offset long, key string, value string"
        self.value_schema = T.StructType(
            [
                T.StructField("event_id", T.LongType(), False),
                T.StructField("ts", T.LongType(), False),
                T.StructField(
                    "user",
                    T.StructType(
                        [
                            T.StructField("id", T.LongType(), True),
                            T.StructField("name", T.StringType(), True),
                            T.StructField("country", T.StringType(), True),
                        ]
                    ),
                    True,
                ),
                T.StructField("amount", T.DoubleType(), True),
                T.StructField("status", T.StringType(), True),
                T.StructField("tags", T.ArrayType(T.StringType()), True),
            ]
        )

    def pipeline(self, name: str):
        from kafka_connect_bigquery_storage_write_spark.config import PipelineConfig
        from kafka_connect_bigquery_storage_write_spark.streaming.pipeline import IngestPipeline

        base = os.path.join(self.work, "out", name)
        cfg = PipelineConfig(sink_path=f"{base}/sink", dlq_path=f"{base}/dlq", write_mode="committed")
        return IngestPipeline(config=cfg, value_schema=self.value_schema)

    def read(self, path: str):
        return self.spark.read.schema(self.envelope).parquet(path)

    def check_partitions(self, path: str) -> None:
        n, cores = self.read(path).rdd.getNumPartitions(), self.spark.sparkContext.defaultParallelism
        if n % cores:
            raise RuntimeError(f"{path} reads as {n} partitions, not a multiple of {cores} cores")

    def warm(self, tag: str) -> None:
        p = self.pipeline(f"warm-{tag}")
        for i, warm_dir in enumerate(sorted(glob.glob(os.path.join(self.work, "in", "warm", "b*")))):
            self.check_partitions(warm_dir)
            p.run_batch(self.read(warm_dir), i)
        p.read_sink(self.spark).count()

    def setup(self, tag: str) -> None:
        self.pipe = self.pipeline(tag)

    def timed(self, tracer: Tracer, batches: list[dict] | None = None) -> dict:
        batches = self.spec["batches"] if batches is None else batches
        self.check_partitions(batches[0]["dir"])
        lat, starts, stats = [], {}, []
        t0 = time.time()
        for i, b in enumerate(batches):
            starts[i] = time.time()
            t = time.perf_counter()
            stats.append(self.pipe.run_batch(self.read(b["dir"]), i))
            lat.append((time.perf_counter() - t) * 1000)
        visible = tracer.call("sinks.sink_table", "read", lambda: self.pipe.read_sink(self.spark).count())
        wall = time.time() - t0
        rows = sum(b["rows"] for b in batches)
        return {"rows": rows, "wall_s": wall, "batch_ms": lat, "visible_ms": visible_ms(self.pipe, starts),
                "stats": stats, "visible": visible}

    def check(self, res: dict) -> list[str]:
        from pyspark.sql import functions as F

        failures = []
        stats = res["stats"]
        planted_total = sum(self.spec["planted"].values())
        if sum(s.input_rows for s in stats) != self.spec["input_rows"]:
            failures.append("input rows seen != rows generated")
        if sum(s.written_rows + s.dlq_rows for s in stats) != self.spec["input_rows"]:
            failures.append("written + dead-lettered != input")
        if sum(s.dlq_rows for s in stats) != planted_total:
            failures.append("dead-lettered rows != planted poison")
        with open(os.path.join(self.work, "in", "valid_ids.json")) as fh:
            want = sorted(json.load(fh))
        df = self.pipe.read_sink(self.spark)
        got = sorted(df.select("event_id").toArrow().column(0).to_pylist())
        if got != want:
            failures.append(f"visible event ids differ from the model ({len(got)} vs {len(want)} rows)")
        if res["visible"] != len(want):
            failures.append("visible-read count differs from the model")
        bad_null = df.filter(F.col("ts").isNull()).count()
        if bad_null:
            failures.append(f"{bad_null} visible rows lost required fields")
        return failures

    def side_layers(self, tracer: Tracer) -> tuple[dict, list[str], int]:
        """Side measurements: (metrics, failures, operations attempted)."""
        pv = []
        for b in self.spec["batches"][:3]:
            pv.append(parse_validate_ms(self.read(b["dir"]), self.value_schema))
        # per-batch fixed cost: latency = fixed + rows * per-row, fitted
        # through full-size and tenth-size batches on a fresh sink
        p = self.pipeline("fixed")
        small, full = [], []
        for i, (sb, fb) in enumerate(zip(self.spec["small_batches"], self.spec["batches"])):
            for lat, b, bid in ((small, sb, 2 * i), (full, fb, 2 * i + 1)):
                t = time.perf_counter()
                p.run_batch(self.read(b["dir"]), bid)
                lat.append((time.perf_counter() - t) * 1000)
        d, s_ms, f_ms = gen.FIXED_DIVISOR, statistics.median(small), statistics.median(full)
        fixed = (d * s_ms - f_ms) / (d - 1)
        m = {
            "schema.parse_validate_ms": median_or_zero(pv),
            "ingest_bulk.batch_fixed_ms": fixed,
            "ingest_bulk.fixed_cost_pct": 100 * fixed / f_ms,
        }
        self.cow = CowMerge(self.spark, self.work, self.spec["cow"])
        cow_m, failures = self.cow.run(tracer)
        m.update(cow_m)
        return m, failures, 2 * len(small) + 1 + len(self.spec["cow"]["batches"])

    def traced_layers(self, tracer: Tracer) -> dict:
        return self.cow.traced_layers(tracer)


class CowMerge:
    """Keyed copy-on-write upserts (``committed``, ``upsert_mode="cow"``)
    through ``run_batch`` onto a key-clustered preload. Each batch updates
    keys of one slice of the key space and inserts new keys, so the
    zone-map/bloom planner can leave the other slices' files untouched."""

    def __init__(self, spark, work: str, spec: dict) -> None:
        from pyspark.sql import types as T

        self.spark, self.work, self.spec = spark, work, spec
        self.value_schema = T.StructType(
            [
                T.StructField("id", T.LongType(), False),
                T.StructField("seq", T.LongType(), True),
                T.StructField("name", T.StringType(), True),
                T.StructField("balance", T.DoubleType(), True),
                T.StructField("region", T.StringType(), True),
                T.StructField("updated_at", T.LongType(), True),
            ]
        )

    def read(self, path: str):
        return self.spark.read.schema("topic string, partition int, offset long, key string, value string").parquet(path)

    def run(self, tracer: Tracer) -> tuple[dict, list[str]]:
        from kafka_connect_bigquery_storage_write_spark.config import PipelineConfig
        from kafka_connect_bigquery_storage_write_spark.sinks.sink_table import ManifestSinkTable
        from kafka_connect_bigquery_storage_write_spark.streaming.pipeline import IngestPipeline

        base = os.path.join(self.work, "out", "cow")
        cfg = PipelineConfig(sink_path=f"{base}/sink", dlq_path=f"{base}/dlq", write_mode="committed",
                             upsert_keys=["id"], upsert_order_col="seq", upsert_mode="cow")
        cols = self.spec["columns"]
        preload = (
            self.spark.read.schema(self.value_schema).parquet(self.spec["preload"])
            .repartitionByRange(gen.COW_SLICES, "id").sortWithinPartitions("id")
        )
        tracer.phase = "cow_seed"
        t = time.perf_counter()
        tracer.call("sinks.sink_table", "write_batch", ManifestSinkTable(cfg.sink_path).write_batch, preload, 0, batch=0)
        seed_ms = (time.perf_counter() - t) * 1000
        self.pipe = pipe = IngestPipeline(config=cfg, value_schema=self.value_schema)
        tracer.wrap(pipe, "process_batch", "streaming.pipeline", batch_arg=1)
        tracer.wrap(pipe._sink, "log_changes", "sinks.sink_table", batch_arg=1)
        merged: list[tuple] = []
        merge = pipe._sink.merge_rows_pruned

        def merge_and_keep(*args, **kwargs):
            res = merge(*args, **kwargs)
            merged.append((tracer.phase, res))
            return res

        pipe._sink.merge_rows_pruned = merge_and_keep
        tracer.wrap(pipe._sink, "merge_rows_pruned", "sinks.sink_table")
        tracer.phase = "cow_warm"
        stats = [pipe.run_batch(self.read(self.spec["warm"]["dir"]), 1)]
        tracer.phase = "cow"
        lat = []
        t0 = time.time()
        for i, b in enumerate(self.spec["batches"]):
            t = time.perf_counter()
            stats.append(pipe.run_batch(self.read(b["dir"]), i + 2))
            lat.append((time.perf_counter() - t) * 1000)
        visible = pipe.read_sink(self.spark).count()
        wall = time.time() - t0
        tracer.phase = "timed"

        failures = []
        batches = [self.spec["warm"]] + self.spec["batches"]
        rows_in = sum(b["rows"] for b in batches)
        if sum(st.input_rows for st in stats) != rows_in or sum(st.written_rows for st in stats) != rows_in:
            failures.append("cow: written rows != input rows")
        state = {r["id"]: [r[c] for c in cols] for r in self.spark.read.parquet(self.spec["preload"]).collect()}
        for b in batches:
            latest: dict[int, list] = {}
            for rec in b["model"]:
                if rec[0] not in latest or rec[1] > latest[rec[0]][1]:
                    latest[rec[0]] = rec
            state.update(latest)
        got = {r["id"]: [r[c] for c in cols] for r in pipe.read_sink(self.spark).collect()}
        if got != state:
            diff = sum(1 for k in set(got) | set(state) if got.get(k) != state.get(k))
            failures.append(f"cow: visible table differs from the last-writer-wins model on {diff} keys")
        if visible != len(state):
            failures.append("cow: visible-read count differs from the model")
        timed = [res for phase, res in merged if phase == "cow"]
        if len(timed) != len(self.spec["batches"]) or any(r is None for r in timed):
            failures.append("cow: a timed batch did not merge")
            timed = [r for r in timed if r is not None]
        return {
            "merge_cow.rows_per_s": sum(b["rows"] for b in self.spec["batches"]) / wall,
            "merge_cow.batch_p50_ms": statistics.median(lat),
            "sink.seed_load_ms": seed_ms,
            "sink.merge_ms": median_or_zero(tracer.durations_ms("sinks.sink_table", "merge_rows_pruned", "cow")),
            "sink.log_changes_ms": median_or_zero(tracer.durations_ms("sinks.sink_table", "log_changes", "cow")),
            "sink.files_rewritten": median_or_zero([r[1] for r in timed]),
            "sink.files_kept": median_or_zero([r[2] for r in timed]),
        }, failures

    def traced_layers(self, tracer: Tracer) -> dict:
        """Rows the merges wrote, per changed key (needs the event log)."""
        written = sum(s.attrs.get("output_records", 0) for s in tracer.find("sinks.sink_table", "merge_rows_pruned", "cow"))
        return {"sink.rewrite_ratio": written / sum(b["changed_keys"] for b in self.spec["batches"])}


class CdcStream:
    """Pending-mode MOR upserts of Confluent-framed Avro through ``start_stream``."""

    def __init__(self, spark, work: str, spec: dict, args) -> None:
        self.spark, self.work, self.spec, self.args = spark, work, spec, args
        self.envelope = "topic string, partition int, offset long, key string, value binary"
        self.avro_json = json.dumps(gen.AVRO_SCHEMA)

    def pipeline(self, name: str):
        from kafka_connect_bigquery_storage_write_spark.config import PipelineConfig
        from kafka_connect_bigquery_storage_write_spark.streaming.pipeline import IngestPipeline

        base = os.path.join(self.work, "out", name)
        cfg = PipelineConfig(
            sink_path=f"{base}/sink",
            dlq_path=f"{base}/dlq",
            checkpoint_path=f"{base}/ckpt",
            write_mode="pending",
            value_format="avro",
            avro_confluent=self.args.misconfigure != "framing",
            upsert_keys=["id"],
            upsert_order_col="seq",
            upsert_mode="mor",
            commit_every_n_batches=3,
        )
        return IngestPipeline.for_avro(cfg, self.avro_json)

    def stream(self, src: str):
        return self.spark.readStream.schema(self.envelope).option("maxFilesPerTrigger", self.args.cores).parquet(src)

    def drain(self, pipe, src: str):
        q = pipe.start_stream(self.stream(src), trigger_once=True)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        return [p for p in q.recentProgress if p["numInputRows"] > 0]

    def warm(self, tag: str) -> None:
        p = self.pipeline(f"warm-{tag}")
        self.drain(p, os.path.join(self.work, "in", "warm", "stream"))
        p.commit()
        p.read_sink(self.spark).count()

    def setup(self, tag: str) -> None:
        self.pipe = self.pipeline(tag)

    def timed(self, tracer: Tracer) -> dict:
        t0 = time.time()
        progress = self.drain(self.pipe, self.spec["stream_dir"])
        self.pipe.commit()  # the traced run wraps the sink's commit
        visible = tracer.call("sinks.sink_table", "read", lambda: self.pipe.read_sink(self.spark).count())
        wall = time.time() - t0
        return {
            "rows": self.spec["input_rows"],
            "wall_s": wall,
            "batch_ms": [p["durationMs"]["triggerExecution"] for p in progress],
            "visible_ms": visible_ms(self.pipe, {p["batchId"]: progress_start(p) for p in progress}),
            "stats": list(self.pipe.stats),
            "visible": visible,
            "progress": progress,
        }

    def source_log(self) -> dict[int, list[str]]:
        """Micro-batch id -> input files, from the checkpoint's source log."""
        batches: dict[int, set[str]] = {}
        for path in glob.glob(os.path.join(self.pipe.config.checkpoint_path, "sources", "0", "*")):
            with open(path) as fh:
                for line in fh:
                    if line.startswith("{"):
                        e = json.loads(line)
                        batches.setdefault(int(e["batchId"]), set()).add(os.path.basename(e["path"]))
        return {b: sorted(f) for b, f in sorted(batches.items())}

    def check(self, res: dict) -> list[str]:
        failures = []
        stats = res["stats"]
        planted = self.spec["planted"]["undecodable_avro"]
        if sum(s.input_rows for s in stats) != self.spec["input_rows"]:
            failures.append("input rows seen != rows generated")
        if sum(s.written_rows + s.dlq_rows for s in stats) != self.spec["input_rows"]:
            failures.append("written + dead-lettered != input")
        if sum(s.dlq_rows for s in stats) != planted:
            failures.append(f"dead-lettered rows {sum(s.dlq_rows for s in stats)} != planted poison {planted}")
        with open(os.path.join(self.work, "in", "model.json")) as fh:
            model_files = json.load(fh)
        log = self.source_log()
        if sorted(f for fs in log.values() for f in fs) != sorted(model_files):
            failures.append("source log does not list every input file exactly once")
        # last writer wins: later micro-batch first, then the order column
        state: dict[int, list] = {}
        for b in sorted(log):
            latest: dict[int, list] = {}
            for f in log[b]:
                for rec in model_files.get(f, []):
                    if rec[0] not in latest or rec[1] > latest[rec[0]][1]:
                        latest[rec[0]] = rec
            state.update(latest)
        got = {
            r["id"]: [r["id"], r["seq"], r["name"], r["balance"], r["region"], r["updated_at"]]
            for r in self.pipe.read_sink(self.spark).collect()
        }
        if got != state:
            diff = sum(1 for k in set(got) | set(state) if got.get(k) != state.get(k))
            failures.append(f"visible table differs from the last-writer-wins model on {diff} keys")
        if res["visible"] != len(state):
            failures.append("visible-read count differs from the model")
        return failures

    def side_layers(self, tracer: Tracer) -> tuple[dict, list[str], int]:
        """Side measurements: (metrics, failures, operations attempted)."""
        from pyspark.sql import types as T

        from kafka_connect_bigquery_storage_write_spark.schema.avro import avro_decode_to_json, avro_schema_to_spark

        value_schema = avro_schema_to_spark(self.avro_json)
        assert isinstance(value_schema, T.StructType)
        files = sorted(glob.glob(os.path.join(self.spec["stream_dir"], "*.parquet")))
        dec, pv = [], []
        for i in range(3):
            raw = self.spark.read.schema(self.envelope).parquet(*files[i * self.args.cores : (i + 1) * self.args.cores])
            decoded = avro_decode_to_json(raw, "value", self.avro_json, confluent=True)
            dec.append(time_noop(decoded))
            pv.append(parse_validate_ms(decoded.localCheckpoint(eager=True), value_schema))
        m = {"schema.avro_decode_ms": median_or_zero(dec), "schema.parse_validate_ms": median_or_zero(pv)}
        qm, failures = query_pass(self.spark, tracer, self.spec["tables"])
        m.update(qm)
        return m, failures, len(QUERY_MIX)

    def traced_layers(self, tracer: Tracer) -> dict:
        m = {}
        for span in (s for s in tracer.spans if s.layer == "queries" and s.phase == "query"):
            short = span.name.split("_")[0]
            m[f"query.{short}.wall_ms"] = (span.end - span.start) * 1000
            m[f"query.{short}.jobs"] = span.attrs.get("jobs", 0)
            m[f"query.{short}.executor_cpu_ms"] = span.attrs.get("cpu_ms", 0.0)
            m[f"query.{short}.shuffle_bytes"] = span.attrs.get("shuffle_bytes", 0)
            m[f"query.{short}.driver_gap_ms"] = span.attrs.get("driver_gap_ms", 0.0)
        return m


# relational, skew, pandas-UDF, text, graph and dedup families
QUERY_MIX = (
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_supplier_region_volume",
    "q49_salted_join",
    "q61_apply_in_pandas_user_stats",
    "q136_bm25_ranking",
    "q168_triangle_count",
    "q32_minhash_lsh_near_dups",
)


def query_pass(spark, tracer: Tracer, tables: dict) -> tuple[dict, list[str]]:
    """A warm-up pass over ``QUERY_MIX`` on the tenth-size tables, then one
    timed pass on the full-size ones, each query opened as a span. Every
    timed result must equal its ``oracle_sql()`` on DuckDB, compared as
    ``harness_canon.rowset`` canonicalises both."""
    import duckdb

    import __spark_entry__ as entry
    from kafka_connect_bigquery_storage_write_spark.harness_canon import rowset

    registry, oracles = entry.queries(), entry.oracle_sql()
    for name in QUERY_MIX:
        registry[name](spark, tables["warm"]).collect()

    def run(name: str):
        df = registry[name](spark, tables["timed"])
        return df.columns, [tuple(r) for r in df.collect()]

    tracer.phase = "query"
    results = {}
    t0 = time.time()
    for name in QUERY_MIX:
        results[name] = tracer.call("queries", name, run, name)
    suite_s = time.time() - t0
    tracer.phase = "timed"

    con = duckdb.connect()
    for path in glob.glob(os.path.join(tables["timed"], "*.parquet")):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    failures = []
    for name, (cols, rows) in results.items():
        cur = con.execute(oracles[name])
        want = rowset(cur.fetchall(), [d[0] for d in cur.description])
        if not rows or rowset(rows, cols) != want:
            failures.append(f"{name}: {len(rows)} rows differ from the DuckDB oracle ({len(want)} rows)")
    con.close()
    return {"query_mix.suite_s": suite_s}, failures


def progress_start(p) -> float:
    """Trigger start (epoch seconds) of one streaming progress event."""
    from datetime import datetime

    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def visible_ms(pipe, starts: dict[int, float]) -> list[float]:
    """Per batch: the commit that published it (batch marker in committed
    mode, epoch in pending mode; ``history()``) minus the batch's start."""
    published = {}
    for h in pipe._sink.history():
        if h["kind"] in ("batch", "epoch"):
            for b in h["batch_ids"]:
                published.setdefault(b, h["committed_at"])
    missing = sorted(set(starts) - set(published))
    if missing:
        raise RuntimeError(f"batches {missing} were never published")
    return [(published[b] - t) * 1000 for b, t in sorted(starts.items())]


def parse_validate_ms(df, value_schema) -> float:
    """``from_json`` + ``convert_and_validate`` + ``split_valid`` on one
    batch, both branches materialised, as the pipeline composes them."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from kafka_connect_bigquery_storage_write_spark.schema.convert import convert_and_validate, split_valid

    parse_schema = T.StructType(list(value_schema.fields) + [T.StructField("_corrupt", T.StringType(), True)])
    parsed = df.withColumn(
        "_value_struct",
        F.from_json(F.col("value").cast("string"), parse_schema, {"columnNameOfCorruptRecord": "_corrupt", "mode": "PERMISSIVE"}),
    )
    good, bad = split_valid(convert_and_validate(parsed, "_value_struct", value_schema, corrupt_field="_corrupt"))
    return time_noop(good) + time_noop(bad)


WORKLOADS = {"ingest_bulk": IngestBulk, "cdc_stream": CdcStream}


def install_spans(tracer: Tracer, pipe) -> None:
    tracer.wrap(pipe, "process_batch", "streaming.pipeline", batch_arg=1)
    sink = pipe._sink
    tracer.wrap(sink, "write_batch", "sinks.sink_table", batch_arg=1)
    tracer.wrap(sink, "commit", "sinks.sink_table")
    tracer.wrap(sink, "upsert_mor", "sinks.sink_table")
    if pipe._dlq is not None:
        tracer.wrap(pipe._dlq, "write", "sinks.dlq", batch_arg=1)


def layer_metrics(wl, tracer: Tracer, res: dict, reasons: dict[str, int]) -> dict:
    batches = tracer.find("streaming.pipeline", "process_batch")
    writes = tracer.find("sinks.sink_table", "write_batch")
    sink_root = wl.pipe._sink.root
    data_files = glob.glob(os.path.join(sink_root, "data", "**", "*.parquet"), recursive=True)
    n = max(1, len(batches))
    m = {
        "pipeline.jobs_per_batch": sum(s.attrs.get("jobs", 0) for s in batches) / n,
        "pipeline.driver_gap_ms_per_batch": sum(s.attrs.get("driver_gap_ms", 0.0) for s in batches) / n,
        "pipeline.executor_cpu_ms_per_batch": sum(s.attrs.get("cpu_ms", 0.0) for s in batches) / n,
        "dlq.write_ms": median_or_zero(tracer.durations_ms("sinks.dlq", "write")),
        "dlq.rows.not_struct": reasons.get(gen.NOT_STRUCT, 0),
        "dlq.rows.required_null": reasons.get(gen.REQUIRED_NULL, 0),
        "sink.write_batch_ms": median_or_zero(tracer.durations_ms("sinks.sink_table", "write_batch")),
        "sink.write_batch_jobs": sum(s.attrs.get("jobs", 0) for s in writes) / max(1, len(writes)),
        "sink.files_written": len(data_files) / n,
        "sink.bytes_written": sum(os.path.getsize(f) for f in data_files) / n,
        "sink.commit_ms": median_or_zero(tracer.durations_ms("sinks.sink_table", "commit")),
        "sink.upsert_mor_ms": median_or_zero(tracer.durations_ms("sinks.sink_table", "upsert_mor")),
        "sink.dv_files": len(wl.pipe._sink.visible_dvs()),
        "sink.read_ms": median_or_zero(tracer.durations_ms("sinks.sink_table", "read")),
        "sink.read_files": len(wl.pipe._sink.visible_files()),
    }
    for key, name in (
        ("addBatch", "add_batch_ms"),
        ("walCommit", "wal_commit_ms"),
        ("commitOffsets", "commit_offsets_ms"),
        ("queryPlanning", "query_planning_ms"),
        ("latestOffset", "latest_offset_ms"),
    ):
        m[f"stream.{name}"] = median_or_zero([p["durationMs"].get(key, 0) for p in res.get("progress", [])])
    # how trigger latency grows with table state: p50 of the first and of
    # the last third of the triggers
    trig = [p["durationMs"]["triggerExecution"] for p in res.get("progress", [])]
    third = len(trig) // 3
    if third:
        m["stream.trigger_early_p50_ms"] = statistics.median(trig[:third])
        m["stream.trigger_late_p50_ms"] = statistics.median(trig[-third:])
    return m


def old_gen_peak_mb(spark) -> float:
    """Peak occupancy of the JVM's old generation: the heap the run kept
    alive, which the tree's RSS cannot separate from heap sizing."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    peaks = [p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans() if "Old Gen" in p.getName()]
    return sum(peaks) / 1e6


def one_core_rows_per_s(args, work: str, spec: dict) -> float:
    """Rebuild the session as local[1] in the same JVM and time two
    ingest_bulk batches on a fresh sink, after the usual warm-up."""
    from kafka_connect_bigquery_storage_write_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench-1core", cpus=1, shuffle_partitions=args.shuffle_partitions,
        extra_conf={"spark.eventLog.enabled": "false"},
    )
    wl = IngestBulk(spark, work, spec, args)
    wl.warm("1core")
    wl.setup("1core")
    res = wl.timed(Tracer(spark, "1core", enabled=False), spec["batches"][:2])
    spark.stop()
    return res["rows"] / res["wall_s"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--work", required=True)
    ap.add_argument("--tag", required=True)
    ap.add_argument("--mode", choices=("probe", "run"), required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--shuffle-partitions", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--misconfigure", default=None)
    args = ap.parse_args()

    from kafka_connect_bigquery_storage_write_spark.session import get_spark

    with open(os.path.join(args.work, "in", "expect.json")) as fh:
        spec = json.load(fh)
    # initial heap = maximum heap: without it G1 sometimes grows the heap to
    # its maximum and sometimes not, and the tree's peak RSS jumped between
    # about 1.7 and 2.4 GB from run to run. The price: peak_rss_mb cannot
    # see changes inside the heap; jvm.old_gen_peak_mb (traced run) can.
    extra = {"spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}"}
    evdir = os.path.join(args.work, "events")
    if args.trace:
        os.makedirs(evdir, exist_ok=True)
        extra |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{evdir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    t = time.time()
    spark = get_spark(app_name=f"perfbench-{args.tag}", cpus=args.cores, shuffle_partitions=args.shuffle_partitions, extra_conf=extra)
    start_ms = (time.time() - t) * 1000
    wl = WORKLOADS[args.workload](spark, args.work, spec, args)
    wl.setup(args.tag)
    t = time.time()
    wl.warm(args.tag)
    warm_ms = (time.time() - t) * 1000
    ready = time.time()
    out = {"setup_s": ready - args.spawned_at, "session.start_ms": start_ms, "session.warmup_ms": warm_ms}
    if args.mode == "run":
        trace_id = f"{args.workload}-seed{spec['seed']}"
        tracer = Tracer(spark, trace_id, enabled=bool(args.trace))
        if args.trace:
            install_spans(tracer, wl.pipe)
        cpu0 = tree_cpu_s(os.getpid())
        res = wl.timed(tracer)
        cpu = tree_cpu_s(os.getpid()) - cpu0
        failures = wl.check(res)
        reasons = read_dlq_reasons(spark, wl.pipe.config.dlq_path)
        planted: dict[str, int] = {}
        for kind, count in spec["planted"].items():
            planted[spec["reasons"][kind]] = planted.get(spec["reasons"][kind], 0) + count
        for reason in sorted(set(planted) | set(reasons)):
            if reasons.get(reason, 0) != planted.get(reason, 0):
                failures.append(f"DLQ reason {reason!r}: {reasons.get(reason, 0)} rows, planted {planted.get(reason, 0)}")
        lat = res["batch_ms"]
        out.update(
            attempted=len(lat),
            failures=failures,
            rows=res["rows"],
            wall_s=res["wall_s"],
            rows_per_s=res["rows"] / res["wall_s"],
            batch_p50_ms=median_or_zero(lat),
            visible_p50_ms=median_or_zero(res["visible_ms"]),
            cpu_s=cpu,
            batch_ms=lat,
        )
        if args.trace:
            heap_mb = old_gen_peak_mb(spark)  # before the side measurements
            out["layers"], side_failures, side_ops = wl.side_layers(tracer)
            out["layers"]["jvm.old_gen_peak_mb"] = heap_mb
            failures += side_failures
            out["attempted"] += side_ops
            app_id = spark.sparkContext.applicationId
            spark.sparkContext.setJobDescription(None)
            # stop() flushes the event log before it is parsed
            spark.stop()
            attribute(tracer.spans, parse_event_log(os.path.join(evdir, app_id)))
            out["layers"].update(layer_metrics(wl, tracer, res, reasons))
            out["layers"].update(wl.traced_layers(tracer))
            for p in res.get("progress", []):
                start = progress_start(p)
                d = dict(p["durationMs"])
                tracer.add_closed("streaming.trigger", "trigger", p["batchId"], start,
                                  start + d["triggerExecution"] / 1000, duration_ms=d, rows=p["numInputRows"])
            trace_dir = os.path.join(os.path.dirname(args.work), "traces")
            os.makedirs(trace_dir, exist_ok=True)
            out["spans_file"] = os.path.join(trace_dir, f"{trace_id}.spans.jsonl")
            write_spans(out["spans_file"], trace_id, tracer.spans)
            if args.workload == "ingest_bulk":
                out["layers"]["ingest_bulk.rows_per_s_1core"] = one_core_rows_per_s(args, args.work, spec)
    spark.stop()
    with open(os.path.join(args.work, f"result-{args.tag}.json"), "w") as fh:
        json.dump(out, fh)


if __name__ == "__main__":
    main()
