"""Record the expected outputs that run.py checks, per workload and seed.

    python3 perfbench/record.py 0 40      # seeds 0..39

``extract_dense`` records the corpus' triple count from the in-process
core parser (no Spark).  ``kg_build`` records the canonical table's
digest from one build.  Results merge into perfbench/expected.json.
Re-record only for a change that is meant to alter the program's output.
"""

from __future__ import annotations

import json
import shutil
import sys

from run import HERE, ROOT, WORKLOADS, Run, in_process_rows, table_digest
from corpus import generate, to_dataframe


def main(lo: int, hi: int) -> None:
    sys.path.insert(0, str(ROOT))
    path = HERE / "expected.json"
    expected = json.loads(path.read_text())
    for seed in range(lo, hi):
        rows = generate(WORKLOADS["extract_dense"].spec, seed)
        expected.setdefault("extract_dense", {})[str(seed)] = {
            "triples": sum(1 for _ in in_process_rows(rows))
        }
    run = Run("kg_build", lo, trace=False)
    spark = run.start_session()
    try:
        for seed in range(lo, hi):
            run.seed = seed
            docs = to_dataframe(spark, generate(run.workload.spec, seed)).cache()
            workdir = run.work / f"record{seed}"
            run.run_job(spark, docs, workdir)
            docs.unpersist()
            digest = table_digest(spark, workdir)
            expected.setdefault("kg_build", {})[str(seed)] = {"table_digest": digest}
            print(seed, digest, flush=True)
    finally:
        run.stop_session()
        shutil.rmtree(run.work, ignore_errors=True)
    path.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main(int(sys.argv[1]), int(sys.argv[2]))
