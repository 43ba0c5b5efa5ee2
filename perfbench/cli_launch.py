"""Run the any2any CLI in this process exactly as
``python -m optimus_any2any_spark.cli <args>`` does, and record when its
Spark session became ready.

    python3 perfbench/cli_launch.py --ready FILE [--trace FILE] -- <cli args>

``--ready`` receives the wall-clock time at which ``get_spark`` returned.
``--trace`` additionally wraps the CLI's layer calls in spans and, just
before the session stops, writes spans, jobs and stages to FILE.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _install_spans(tracer, cli) -> None:
    """Wrap each public call the CLI makes into a layer."""
    from pyspark.sql import SparkSession

    try:  # the classic (non-Connect) DataFrame overrides unpersist
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    import optimus_any2any_spark.compiler.jq as jq
    import optimus_any2any_spark.sinks.file as sink_file
    import optimus_any2any_spark.sources.builders  # noqa: F401  (registers FILE)
    import optimus_any2any_spark.sinks.builders  # noqa: F401  (registers FILE, S3)
    from optimus_any2any_spark import pipeline as P

    from spans import rdd_storage_bytes

    get_spark = cli.get_spark

    def traced_get_spark(*a, **kw):
        with tracer.span("session.get_spark"):
            spark = get_spark(*a, **kw)
        tracer.sc = spark.sparkContext
        return spark

    cli.get_spark = traced_get_spark

    P.SOURCE_BUILDERS["FILE"] = tracer.wrap(P.SOURCE_BUILDERS["FILE"], "sources.file")

    binary = jq.jq_binary_transform

    def flag_fallback(*a, **kw):
        tracer.current.attrs["native"] = 0
        return binary(*a, **kw)

    jq.jq_binary_transform = flag_fallback

    def jq_done(span, _out):
        span.attrs.setdefault("native", 1)
        span.attrs["compile_s"] = time.time() - span.start

    jq.jq_transform = tracer.wrap(jq.jq_transform, "compiler.jq", jq_done)

    def template_done(span, _out):
        span.attrs["compile_s"] = time.time() - span.start

    sink_file.compile_template = tracer.wrap(
        sink_file.compile_template, "compiler.template", template_done
    )

    def written(span, result):
        files = getattr(result, "files", {}) or {}
        span.attrs["files_written"] = len(files)
        span.attrs["bytes_written"] = sum(
            os.path.getsize(p) for p in files if os.path.isfile(p)
        )

    for name in ("FILE", "S3"):
        P.SINK_BUILDERS[name] = tracer.wrap(
            P.SINK_BUILDERS[name], f"sinks.{name.lower()}", written
        )

    run = P.Pipeline.run
    unpersist = DataFrame.unpersist

    def traced_run(self):
        with tracer.span("pipeline.run") as s:
            s.attrs["persisted_bytes"] = 0

            def measured_unpersist(df, *a, **kw):
                s.attrs["persisted_bytes"] += rdd_storage_bytes(self.spark.sparkContext)
                return unpersist(df, *a, **kw)

            DataFrame.unpersist = measured_unpersist
            try:
                return run(self)
            finally:
                DataFrame.unpersist = unpersist

    P.Pipeline.run = traced_run

    stop = SparkSession.stop

    def collecting_stop(spark):
        tracer.collect(spark)
        return stop(spark)

    SparkSession.stop = collecting_stop


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--ready", required=True)
    ap.add_argument("--trace")
    ap.add_argument("cli_args", nargs=argparse.REMAINDER)
    args = ap.parse_args()
    cli_args = args.cli_args[1:] if args.cli_args[:1] == ["--"] else args.cli_args

    import optimus_any2any_spark.cli as cli

    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer(run_id=f"cli-{os.getpid()}")
        _install_spans(tracer, cli)

    get_spark = cli.get_spark

    def ready_get_spark(*a, **kw):
        spark = get_spark(*a, **kw)
        with open(args.ready, "w") as f:
            f.write(repr(time.time()))
        return spark

    cli.get_spark = ready_get_spark
    rc = cli.main(cli_args)
    if tracer is not None:
        with open(args.trace, "w") as f:
            json.dump(tracer.dump(), f)
    return rc


if __name__ == "__main__":
    sys.exit(main())
