"""Traced forwarder: the CLI's public pieces wired as ``python -m
nsq2kinesis_spark`` wires them, with timing wrappers around the sink call,
the Kinesis client factory and ``put_records``.

Usage: ``traced_child.py TRACE_DIR CORPUS_DIR|- -- <forwarder flags>``.

Spans are recorded only while ``TRACE_DIR/ENABLED`` exists, so one process
can run an untraced and a traced phase and the difference is the tracing
overhead. Executor-side spans are appended to ``TRACE_DIR/exec-<pid>.jsonl``;
spans of the forwarder's main process and every ``StreamingQueryProgress`` go to
``TRACE_DIR/main.json`` when SIGTERM stops the query. With a corpus
directory, the dedup operators then run in the same warm session and their
timings go to ``TRACE_DIR/corpus.json``.
"""

from __future__ import annotations

import json
import os
import signal
import sys
import time

from py4j.protocol import Py4JError
from pyspark.sql.streaming import StreamingQueryListener


def _enabled(trace_dir: str) -> bool:
    return os.path.exists(os.path.join(trace_dir, "ENABLED"))


def _write_span(trace_dir: str, span: dict) -> None:
    with open(os.path.join(trace_dir, f"exec-{os.getpid()}.jsonl"), "a") as fh:
        fh.write(json.dumps(span) + "\n")


class TracedClient:
    """Times every ``put_records`` of the wrapped Kinesis client."""

    def __init__(self, inner, trace_dir: str) -> None:
        self.inner, self.trace_dir = inner, trace_dir

    def put_records(self, StreamName, Records):
        if not _enabled(self.trace_dir):
            return self.inner.put_records(StreamName=StreamName, Records=Records)
        t0 = time.time()
        resp = self.inner.put_records(StreamName=StreamName, Records=Records)
        _write_span(
            self.trace_dir,
            {"name": "put_records", "t0": t0, "t1": time.time(), "n": len(Records),
             "failed": resp.get("FailedRecordCount", 0)},
        )
        return resp


class TracedFactory:
    """Times the client factory; runs once per sink task on an executor."""

    def __init__(self, inner, trace_dir: str) -> None:
        self.inner, self.trace_dir = inner, trace_dir

    def __call__(self):
        if not _enabled(self.trace_dir):
            return self.inner()
        t0 = time.time()
        client = self.inner()
        _write_span(self.trace_dir, {"name": "client_setup", "t0": t0, "t1": time.time()})
        return TracedClient(client, self.trace_dir)


class TracedSink:
    """foreachBatch callable timing ``KinesisSink.__call__`` per epoch."""

    def __init__(self, inner, trace_dir: str) -> None:
        self.inner, self.trace_dir = inner, trace_dir
        self.spans: list[dict] = []

    def __call__(self, batch_df, epoch_id: int) -> None:
        if not _enabled(self.trace_dir):
            self.inner(batch_df, epoch_id)
            return
        t0 = time.time()
        self.inner(batch_df, epoch_id)
        self.spans.append({"name": "sink.call", "epoch": epoch_id, "t0": t0, "t1": time.time()})


class ProgressRecorder(StreamingQueryListener):
    """Keeps every epoch's progress JSON (``recentProgress`` keeps 100)."""

    def __init__(self) -> None:
        self.events: list[str] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.events.append(event.progress.json)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def run_corpus(spark, corpus_dir: str) -> dict:
    """Time the shared shingle postings and each dedup query in the warm
    session; record result digests, q76 recall and shuffle bytes."""
    from corpus import TIMED_QUERIES, rows_digest

    from nsq2kinesis_spark.operators.llm_dedup import shared_postings
    from nsq2kinesis_spark.registry import all_queries

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()

    def shuffle_mb(group: str) -> float:
        stage_ids = set()
        for job_id in sc.statusTracker().getJobIdsForGroup(group):
            info = sc.statusTracker().getJobInfo(job_id)
            stage_ids.update(info.stageIds if info else [])
        total = 0
        for stage_id in stage_ids:
            try:
                total += store.lastStageAttempt(stage_id).shuffleWriteBytes()
            except Py4JError:  # a stage that never ran has no attempt
                pass
        return total / 2**20

    queries = all_queries()
    out: dict = {"seconds": {}, "shuffle_mb": {}, "digests": {}}
    sc.setJobGroup("shared_postings", "shared_postings")
    t0 = time.perf_counter()
    shared_postings(spark, corpus_dir).count()
    out["seconds"]["shared_postings"] = time.perf_counter() - t0
    out["shuffle_mb"]["shared_postings"] = shuffle_mb("shared_postings")
    pairs = {}
    for name in TIMED_QUERIES:
        sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        df = queries[name].builder(spark, corpus_dir)
        rows = df.collect()
        out["seconds"][name] = time.perf_counter() - t0
        out["shuffle_mb"][name] = shuffle_mb(name)
        out["digests"][name] = rows_digest(df.columns, [tuple(r) for r in rows])
        if name.startswith(("q75", "q76")):
            pairs[name[:3]] = {(r.doc_a, r.doc_b) for r in rows}
    exact = pairs["q75"]
    out["q75_pairs"] = len(exact)
    out["q76_recall"] = len(exact & pairs["q76"]) / len(exact) if exact else 0.0
    return out


def main() -> int:
    sep = sys.argv.index("--")
    trace_dir, corpus_dir = sys.argv[1:sep]
    flags = sys.argv[sep + 1 :]
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    from nsq2kinesis_spark.__main__ import build_arg_parser, make_client_factory, reader_options
    from nsq2kinesis_spark.observability import attach_metrics_listener
    from nsq2kinesis_spark.session import get_spark
    from nsq2kinesis_spark.sources.nsq import NsqDataSource
    from nsq2kinesis_spark.streaming.kinesis_sink import KinesisSink
    from nsq2kinesis_spark.streaming.pipeline import PipelineConfig, build_pipeline

    args = build_arg_parser().parse_args(flags)
    t0 = time.perf_counter()
    spark = get_spark(app_name="nsq2kinesis_spark", cpus=args.cpus)
    get_spark_s = time.perf_counter() - t0
    spark.dataSource.register(NsqDataSource)
    attach_metrics_listener(spark)
    recorder = ProgressRecorder()
    spark.streams.addListener(recorder)
    if args.test:
        try:
            make_client_factory(args)().create_stream(StreamName=args.stream, ShardCount=1)
        except Exception as exc:  # the stream may already exist
            print(f"stream creation: {exc}", file=sys.stderr)
    source = spark.readStream.format("nsq").options(**reader_options(args)).load()
    sink = TracedSink(
        KinesisSink(
            stream=args.stream,
            client_factory=TracedFactory(make_client_factory(args), trace_dir),
            epoch_guard_dir=args.epoch_guard_dir,
        ),
        trace_dir,
    )
    query = build_pipeline(
        source,
        sink,
        PipelineConfig(checkpoint_dir=args.checkpoint_dir, trigger_processing_time=args.trigger_interval),
    )
    stop: list[int] = []
    signal.signal(signal.SIGTERM, lambda signum, _f: stop.append(signum))
    signal.signal(signal.SIGINT, lambda signum, _f: stop.append(signum))
    while not query.awaitTermination(timeout=1):
        if stop:
            query.stop()
            query.awaitTermination()
            break
    with open(os.path.join(trace_dir, "main.json"), "w") as fh:
        json.dump(
            {"get_spark_s": get_spark_s, "sink_spans": sink.spans, "progress": recorder.events}, fh
        )
    if corpus_dir != "-":
        result = run_corpus(spark, corpus_dir)
        with open(os.path.join(trace_dir, "corpus.json"), "w") as fh:
            json.dump(result, fh)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
