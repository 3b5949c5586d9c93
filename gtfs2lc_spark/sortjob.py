"""Standalone join-and-sort tool — the reference's
``linkedconnections-joinandsort <file.nldjsonld>`` (entry point 3.3,
bin/linkedconnections-sort.js:192-237): read ND-JSON connection lines
(the ``@context`` record set aside), movement-merge joined/split trips
(J8), link nextConnection chains (J9), sort ascending by the 6-key
comparator (O2), and write the stream back with the context first.

Spark shape: the reference's external desc/asc sorts and in-process
maps become one DataFrame plan (postprocess.join_and_sort); ordered
output is preserved because orderBy range-partitions and part files
concatenate in name order.

    python -m gtfs2lc_spark.sortjob --input conns.nldjsonld \
        --output /path/out [--sharded]
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import postprocess, sinks
from .job import merge_shards
from .session import build_session, stop_session

# nextConnection is not read: join_and_sort re-links every chain
_JSONLD_SCHEMA = T.StructType(
    [T.StructField(k, T.StringType(), True) for k, _c in sinks.JSONLD_KEYS]
)


def read_jsonld_connections(
    spark: SparkSession, path: str
) -> tuple[DataFrame, dict | None]:
    """ND-JSON -> jsonld-shaped DataFrame (+ the @context record, if
    any, parsed driver-side — it is one line by construction)."""
    lines = spark.read.text(path)
    # the context record is the line whose TOP-LEVEL object has an
    # '@context' key and no '@id' (a connection whose direction text
    # merely contains the substring '"@context"' must not match) —
    # JSON-path probe, evaluated JVM-side
    ctx_rows = (
        lines.where(
            F.get_json_object("value", "$['@context']").isNotNull()
            & F.get_json_object("value", "$['@id']").isNull()
        )
        .limit(1)
        .collect()
    )
    context = json.loads(ctx_rows[0].value) if ctx_rows else None
    parsed = lines.select(
        F.from_json("value", _JSONLD_SCHEMA).alias("j")
    ).where(F.col("j").getField("@id").isNotNull())
    df = parsed.select(
        *[F.col("j").getField(k).alias(c) for k, c in sinks.JSONLD_KEYS]
    )
    return df, context


def run(spark: SparkSession, args: argparse.Namespace) -> dict:
    df, context = read_jsonld_connections(spark, args.input)
    out = postprocess.join_and_sort(df.drop("type"))
    lines = sinks.jsonld_lines(out)
    header = json.dumps(context, separators=(",", ":")) if context else None
    if args.sharded:
        lines.write.mode("overwrite").text(args.output)
        if header is not None:
            with open(f"{args.output}/_header.txt", "w") as f:
                f.write(header + "\n")
    else:
        shards = f"{args.output}/_shards"
        lines.write.mode("overwrite").text(shards)
        merge_shards(shards, f"{args.output}/connections.nldjsonld", header)
    return {"output": args.output, "input": args.input}


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help=".nldjsonld file or glob")
    ap.add_argument("--output", required=True)
    ap.add_argument("--sharded", action="store_true",
                    help="leave sharded text parts instead of one merged file")
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    spark = build_session(app_name="linkedconnections-joinandsort")
    msg = run(spark, args)
    print(json.dumps(msg))
    stop_session(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
