"""Kernel-oracle answers for the benchmark's query checks.

    python3 perfbench/oracle.py <input.pickle> <part> <parts>

Reads the pickle run.py wrote: (rows, queries, k), rows being the corpus'
(doc_key, text) pairs in doc_id order. Writes to standard output a pickle of
one (KernelIndex.search, FullSearch.search) pair for each of the queries
queries[part::parts]. run.py starts its parts after the stage-1 loop, beside
the rerank loop; each indexes the whole corpus and answers its share of the
queries, and each lowers its own priority so that the rerank loop keeps its
core.
"""

from __future__ import annotations

import os
import pickle
import sys


def main() -> None:
    os.nice(19)
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from infidex_spark.kernel.engine import FullSearch, KernelIndex

    part, parts = int(sys.argv[2]), int(sys.argv[3])
    with open(sys.argv[1], "rb") as f:
        rows, queries, k = pickle.load(f)
    queries = queries[part::parts]
    index = KernelIndex()
    index.index_documents(rows)
    full = FullSearch(index)
    pickle.dump([(index.search(q, k), full.search(q, k)) for q in queries], sys.stdout.buffer)


if __name__ == "__main__":
    main()
