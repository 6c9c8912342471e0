"""Round-6 optimization harness — per-query isolation and sub-stage timing.

NOT the driver bench (bench.py is frozen).  This file exists so that
optimization work can time individual queries (noop sink, guide §1.4),
time sub-stages of the composed shapes (generator alone vs full chain),
and capture formatted plans into plans/r06/.

Usage:
    python bench_extra.py time <name> [reps]     # one headline query
    python bench_extra.py stages                 # sub-stage breakdowns
    python bench_extra.py plan <name> <outfile>  # .explain("formatted")
    python bench_extra.py all [reps]             # every headline query
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench as B  # the frozen bench: reuse its query list + shapes


def _spark():
    from opentelemetry_collector_components_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="bench_extra",
        master=f"local[{cpus}]",
        shuffle_partitions=max(8, int(cpus)),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _trigger(df):
    df.write.mode("overwrite").format("noop").save()


SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _build(spark, name):
    from opentelemetry_collector_components_spark.queries import SPARK_QUERIES

    extra = B._extra_shapes(spark)
    if name in extra:
        return extra[name]
    fn = SPARK_QUERIES[name]
    return lambda: fn(spark, SF_DIR)


def time_query(spark, name, reps=3):
    from opentelemetry_collector_components_spark.caching import scoped_intermediates

    build = _build(spark, name)
    out = []
    for r in range(reps + 1):  # rep 0 = warm
        with scoped_intermediates():
            spark.sparkContext.setJobDescription(f"{name} rep{r}")
            t0 = time.time()
            _trigger(build())
            dt = time.time() - t0
        if r > 0:
            out.append(round(dt, 3))
    spark.sparkContext.setJobDescription(None)
    return out


def cmd_time(names, reps):
    spark = _spark()
    res = {}
    for name in names:
        res[name] = time_query(spark, name, reps)
        print(name, res[name], flush=True)
    print(json.dumps(res))


def cmd_plan(name, outfile):
    spark = _spark()
    build = _build(spark, name)
    df = build()
    txt = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    with open(outfile, "w") as f:
        f.write(txt)
    print("wrote", outfile)


def cmd_stages():
    """Sub-stage isolation for the composed generator shapes."""
    from pyspark.sql import functions as F

    spark = _spark()
    from opentelemetry_collector_components_spark.operators.redirects import (
        resolve_redirects,
    )
    from opentelemetry_collector_components_spark.operators.webgraph import (
        extract_links,
        host_link_edges,
    )
    from opentelemetry_collector_components_spark.sources.pages import (
        generate_article_pages,
        generate_fetch_log,
        generate_linked_pages,
        generate_pages,
    )
    from opentelemetry_collector_components_spark.sources.warc import (
        generate_warc_records,
        parse_http_response,
        parse_warc_records,
    )
    from opentelemetry_collector_components_spark.functions.webtext import (
        add_main_content,
        decode_entities,
    )

    stages = {
        "gen_pages_1m": lambda: generate_pages(spark, 1_000_000),
        "gen_article_pages_1m": lambda: generate_article_pages(spark, 1_000_000),
        "mc_stats_only_1m": lambda: add_main_content(
            generate_article_pages(spark, 1_000_000)
        ).select("doc_id", "main_text"),
        "mc_full_1m": lambda: add_main_content(
            generate_article_pages(spark, 1_000_000)
        ).select("doc_id", decode_entities(F.col("main_text")).alias("text")),
        "gen_warc_2m": lambda: generate_warc_records(spark, 2_000_000),
        "warc_layer1_2m": lambda: parse_warc_records(
            generate_warc_records(spark, 2_000_000)
        ),
        "warc_full_2m": lambda: parse_http_response(
            parse_warc_records(generate_warc_records(spark, 2_000_000))
        ),
        "gen_linked_pages_2m": lambda: generate_linked_pages(spark, 2_000_000),
        "extract_links_2m": lambda: extract_links(
            generate_linked_pages(spark, 2_000_000)
        ),
        "host_edges_2m": lambda: host_link_edges(
            generate_linked_pages(spark, 2_000_000)
        ),
        "gen_fetch_log_1m": lambda: generate_fetch_log(spark, 1_000_000),
        "redirects_1m": lambda: resolve_redirects(
            generate_fetch_log(spark, 1_000_000)
        ),
    }
    from opentelemetry_collector_components_spark.caching import scoped_intermediates

    res = {}
    for name, build in stages.items():
        times = []
        for r in range(3):
            with scoped_intermediates():
                spark.sparkContext.setJobDescription(f"{name} rep{r}")
                t0 = time.time()
                _trigger(build())
                times.append(round(time.time() - t0, 3))
        res[name] = times
        print(name, times, flush=True)
    print(json.dumps(res))


# subcommand -> (min, max) number of arguments after it
_ARITY = {"time": (1, 2), "stages": (0, 0), "plan": (2, 2), "all": (0, 1)}


def _check_usage(argv: list[str]) -> None:
    """Print the usage docstring and exit 2 on a missing or unknown
    subcommand or a wrong argument count — before any Spark work."""
    if argv and argv[0] in _ARITY:
        lo, hi = _ARITY[argv[0]]
        if lo <= len(argv) - 1 <= hi:
            return
    sys.stderr.write(__doc__)
    raise SystemExit(2)


if __name__ == "__main__":
    _check_usage(sys.argv[1:])
    cmd = sys.argv[1]
    if cmd == "time":
        reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3
        cmd_time(sys.argv[2].split(","), reps)
    elif cmd == "stages":
        cmd_stages()
    elif cmd == "plan":
        cmd_plan(sys.argv[2], sys.argv[3])
    elif cmd == "all":
        reps = int(sys.argv[2]) if len(sys.argv) > 2 else 1
        cmd_time(B.HEADLINE, reps)
