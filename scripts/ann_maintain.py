#!/usr/bin/env python3
"""Index-maintenance decision CLI — the operational face of the retrain
loop (r11 verdict task 3; cost flags + measure mode r12 verdict task 5):
point it at a LIVE versioned IVFPQ artifact
(plans/similarity_queries.py::ann_index_train's output directory) and it

1. loads the current snapshot's per-vector parts (``ann_index_load``),
2. computes the health report (``ann_index_stats_from_parts`` — per
   cell: population, corpus share, max single-PQ-code concentration),
3. runs the policy (``operators/similarity.py::ann_retrain_decision``)
   with an append/retrain cost split whose PROVENANCE is recorded in
   the output — measured on this deployment (``--measure``), supplied
   by the operator (``--append-cost/--retrain-cost``), or absent, and
4. prints ONE JSON line: ``{"decision": "append"|"retrain", ...}`` plus
   the artifact version and encoding regime — ready for a cron wrapper
   that calls ``ann_index_train`` when the answer is "retrain".

Usage::

    python scripts/ann_maintain.py TABLE_DIR [--threshold 0.5]
        [--append-cost S --retrain-cost S]
        [--measure --corpus PARQUET [--id-col vec_id]
         [--vec-col embedding] [--measure-batch 200]]

``--measure`` times the two maintenance operations on THIS deployment's
own data and host instead of trusting someone else's bench box:
a retrain is one full ``ann_index_train`` of the corpus into a
throwaway directory; an append is one ``ann_index_extend`` of a small
re-id'd batch against a COPY of the live artifact (the live pointer is
never touched; copying the artifact costs one artifact-sized read —
fine for routine cron use, use explicit flags if the artifact is huge).
The JSON records ``cost_provenance`` so a reader can tell a measured
split from a pasted one.

Exit code 0 = append, 2 = retrain — scriptable either way.  Usage
errors (unknown flag, bad value, missing pairing) exit 64 (EX_USAGE),
NOT argparse's default 2, so a cron wrapper keying "retrain" off exit
code 2 can never be tricked into a full retrain by a flag typo (r13
ADVICE item 1).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# BSD sysexits.h EX_USAGE — distinct from both decision codes (0/2) and
# the bare-invocation help code (1)
EXIT_USAGE = 64


class _UsageExit64Parser(argparse.ArgumentParser):
    """argparse exits 2 on ANY usage error, which collides with this
    CLI's documented "retrain" decision code — remap to EX_USAGE."""

    def error(self, message: str) -> None:  # noqa: D401 - argparse hook
        self.print_usage(sys.stderr)
        print(f"{self.prog}: error: {message}", file=sys.stderr)
        raise SystemExit(EXIT_USAGE)


def _parse(argv: list[str]) -> argparse.Namespace | None:
    # bare invocation: print the full usage doc to STDOUT and let
    # main() exit 1 WITHOUT building a SparkSession — the pinned cron
    # probe contract (tests/test_sinks.py::
    # test_ann_maintain_cli_usage_contract)
    if not argv:
        print(__doc__)
        return None
    p = _UsageExit64Parser(
        prog="ann_maintain.py", description=__doc__
    )
    p.add_argument("table_dir", help="versioned IVFPQ artifact directory")
    p.add_argument("--threshold", type=float, default=0.5)
    p.add_argument(
        "--append-cost", type=float, default=None,
        help="measured seconds per append batch on this deployment",
    )
    p.add_argument(
        "--retrain-cost", type=float, default=None,
        help="measured seconds per full retrain on this deployment",
    )
    p.add_argument(
        "--measure", action="store_true",
        help="time one extend (on a copy) and one retrain (throwaway "
        "dir) instead of trusting supplied costs; requires --corpus",
    )
    p.add_argument(
        "--corpus", default=None,
        help="parquet path of (id, vector) rows — the retrain source "
        "and the append-batch source for --measure",
    )
    p.add_argument("--id-col", default="vec_id")
    p.add_argument("--vec-col", default="embedding")
    p.add_argument(
        "--measure-batch", type=int, default=200,
        help="rows in the timed append batch (re-id'd above max id)",
    )
    args = p.parse_args(argv)
    if args.measure and not args.corpus:
        p.error("--measure requires --corpus (the retrain source)")
    if (args.append_cost is None) != (args.retrain_cost is None):
        p.error("--append-cost and --retrain-cost go together")
    if args.measure and args.append_cost is not None:
        p.error("--measure and explicit costs are mutually exclusive")
    return args


def measure_costs(
    spark,
    table_dir: str,
    corpus_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_rows: int = 200,
) -> dict:
    """Time one append and one retrain ON THIS DEPLOYMENT: the retrain
    trains the corpus into a throwaway directory; the append extends a
    COPY of the live artifact with ``batch_rows`` re-id'd corpus rows
    (ids shifted above the current max so the append-only gate
    passes).  Neither touches the live pointer.  Returns
    ``{"append_cost_s", "retrain_cost_s", "measure_batch"}``.

    The shift base is ``max(corpus max id, live artifact max vec_id)``
    (r13 ADVICE item 2): a live artifact that has already been
    extended — the normal drift scenario this tool exists for — holds
    ids ABOVE the corpus max, and a corpus-only shift would collide
    with them and trip ``ann_index_extend``'s append-only gate on
    exactly the index we're here to measure."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from data_pipelines_using_llm_spark.plans.similarity_queries import (
        ann_index_extend,
        ann_index_load,
        ann_index_meta,
        ann_index_train,
    )

    if corpus_path is None:
        raise ValueError(
            "measure_costs: corpus_path is required — it is both the "
            "retrain source and the append-batch source"
        )
    corpus = spark.read.parquet(corpus_path).select(
        F.col(id_col).cast("long").alias(id_col), vec_col
    )
    corpus_max = corpus.agg(F.max(id_col)).first()[0]
    if corpus_max is None:
        raise ValueError(
            f"measure_costs: corpus at {corpus_path!r} is empty — "
            "nothing to time an append or retrain against"
        )
    # time the retrain in the SAME encoding regime the live artifact
    # uses — a raw-regime timing is the wrong cost for a residual index
    residual = ann_index_meta(spark, table_dir)["residual"]
    work = tempfile.mkdtemp(prefix="ann_maintain_measure_")
    try:
        t0 = time.perf_counter()
        ann_index_train(
            spark, "", f"{work}/retrain", source=corpus, residual=residual
        )
        retrain_s = time.perf_counter() - t0

        shutil.copytree(table_dir, f"{work}/copy")
        # the LIVE artifact may already hold ids above the corpus max
        # (prior drift appends); shift past whichever is larger
        live_cells = ann_index_load(spark, table_dir)[0]
        artifact_max = live_cells.agg(F.max("vec_id")).first()[0]
        max_id = max(corpus_max, artifact_max or 0)
        batch = corpus.limit(batch_rows).select(
            (F.col(id_col) + max_id + 1).alias(id_col), vec_col
        ).localCheckpoint(eager=True)
        t0 = time.perf_counter()
        ann_index_extend(
            spark, f"{work}/copy", batch, id_col=id_col, vec_col=vec_col
        )
        append_s = time.perf_counter() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return {
        "append_cost_s": round(append_s, 4),
        "retrain_cost_s": round(retrain_s, 4),
        "measure_batch": batch_rows,
    }


def decide(
    spark,
    table_dir: str,
    threshold: float = 0.5,
    append_cost_s: float | None = None,
    retrain_cost_s: float | None = None,
    measure: bool = False,
    corpus: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    measure_batch: int = 200,
) -> dict:
    """The CLI's whole pipeline as an importable function (tested
    in-session; main() only parses args and owns the SparkSession)."""
    from data_pipelines_using_llm_spark.operators.similarity import (
        ann_retrain_decision,
    )
    from data_pipelines_using_llm_spark.plans.similarity_queries import (
        ann_index_load,
        ann_index_meta,
        ann_index_stats_from_parts,
    )
    from data_pipelines_using_llm_spark.sinks.versioned import (
        current_version,
    )

    provenance = None
    measured: dict = {}
    if measure:
        # argparse enforces this pairing for the CLI; enforce it here
        # too because decide() is the advertised importable API (r13
        # ADVICE item 3) — without this, corpus=None surfaces as an
        # opaque spark.read.parquet(None) failure deep in measure_costs
        if corpus is None:
            raise ValueError(
                "decide: measure=True requires corpus= (the parquet "
                "path used as retrain source and append-batch source)"
            )
        measured = measure_costs(
            spark, table_dir, corpus, id_col, vec_col, measure_batch
        )
        append_cost_s = measured["append_cost_s"]
        retrain_cost_s = measured["retrain_cost_s"]
        provenance = "measured"
    elif append_cost_s is not None:
        provenance = "flags"

    cells, _icents, codes, _pqcents = ann_index_load(spark, table_dir)
    report = ann_retrain_decision(
        ann_index_stats_from_parts(cells, codes),
        concentration_threshold=threshold,
        append_cost_s=append_cost_s,
        retrain_cost_s=retrain_cost_s,
    )
    report["version"] = current_version(table_dir)
    report["residual"] = ann_index_meta(spark, table_dir)["residual"]
    report["cost_provenance"] = provenance
    if measured:
        report["measure_batch"] = measured["measure_batch"]
    return report


def main() -> int:
    args = _parse(sys.argv[1:])
    if args is None:
        return 1

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    report = decide(
        spark,
        args.table_dir,
        threshold=args.threshold,
        append_cost_s=args.append_cost,
        retrain_cost_s=args.retrain_cost,
        measure=args.measure,
        corpus=args.corpus,
        id_col=args.id_col,
        vec_col=args.vec_col,
        measure_batch=args.measure_batch,
    )
    print(json.dumps(report))
    spark.stop()
    return 2 if report["decision"] == "retrain" else 0


if __name__ == "__main__":
    sys.exit(main())
