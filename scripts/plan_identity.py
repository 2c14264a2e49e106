"""Plan identity: print the normalized optimized plans of the flagship
calls, so a refactor that claims no behaviour change can show it.

    python scripts/plan_identity.py --repo <checkout A> --sf <sf0.01 dir> > a.txt
    python scripts/plan_identity.py --repo <checkout B> --sf <sf0.01 dir> > b.txt
    diff a.txt b.txt

`--repo` is the checkout whose package is imported (default: this one).
The inputs are the perfbench seed-1 `extract_mixed` and `curate` inputs,
built into `--inputs` on first use, and the driver test tables (the
`<name>.parquet` files of one scale factor) at `--sf`.
Plans cover `extract_documents(docs, media, salt=8)`,
`curate_corpus(docs, eval, threshold=0.6, budget=2048)` and the driver
window keys `q_tumbling`, `q_sliding` and `q_session_window`.
Expression ids, plan ids and lambda variable names are numbered per
session, so they are normalized away; two sessions over the same code
print the same text.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_RULES = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"\b([xy])_\d+\b"), r"\1_"),
]


def normalize(plan: str) -> str:
    for pat, rep in _RULES:
        plan = pat.sub(rep, plan)
    return plan


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--repo", default=HERE)
    ap.add_argument("--inputs", default=os.path.join(HERE, "perfbench", ".work", "inputs"))
    ap.add_argument("--sf", required=True)
    args = ap.parse_args(argv)

    sys.path[:0] = [os.path.abspath(args.repo), os.path.join(HERE, "perfbench")]
    import workloads

    from ocr_tool_spark.dataprep.curate import curate_corpus
    from ocr_tool_spark.plans import driver_queries
    from ocr_tool_spark.plans.pipeline import extract_documents
    from ocr_tool_spark.session import build_session

    spark = build_session(app_name="plan-identity", cores=4, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    ext = workloads.WORKLOADS["extract_mixed"](1)
    cur = workloads.WORKLOADS["curate"](1)
    for wl in (ext, cur):
        wl.prepare(args.inputs)
    docs = spark.read.parquet(f"{ext.input}/docs")
    media = spark.read.parquet(f"{ext.input}/media")
    cdocs = spark.read.parquet(f"{cur.input}/docs")
    ceval = spark.read.parquet(f"{cur.input}/eval")
    frames = {
        "extract_documents": lambda: extract_documents(docs, media, salt=8),
        "curate_corpus": lambda: curate_corpus(cdocs, ceval, threshold=0.6, budget=2048),
    }
    qs = driver_queries.queries()
    for key in ("q_tumbling", "q_sliding", "q_session_window"):
        frames[key] = lambda key=key: qs[key](spark, args.sf)
    for name, make in frames.items():
        plan = make()._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
        print(f"== {name}\n{normalize(plan)}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
