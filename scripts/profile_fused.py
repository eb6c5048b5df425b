"""Profile the fused-extraction hot loop WITHOUT Spark.

The fused operators' per-batch body (``operators.fused.extract_batch``:
html -> paragraphs -> sentences -> mentions -> statements -> triples) is
pure Python; Spark only schedules it. This script calls that same function
on one pandas batch of synthetic pages, as ``extract_triples_fused`` (or
``extract_triples_fused_block``) does inside a worker, so the profile shows
the per-function cost structure the executors see, with zero scheduler
noise. Run:

    python scripts/profile_fused.py [n_docs] [engine]

engine: sentence (default) | block
"""

import cProfile
import io
import os
import pstats
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    engine = sys.argv[2] if len(sys.argv) > 2 else "sentence"

    import pandas as pd

    # Generate pages without a SparkSession: corpus.py's row synthesis is
    # pure; reuse its per-doc builder directly.
    from llm_text_to_knowledge_graph_spark.corpus import (
        build_alias_rows,
        build_entities,
        gen_doc,
    )
    from llm_text_to_knowledge_graph_spark.operators.fused import (
        ENGINES,
        extract_batch,
        triple_rows,
    )
    from llm_text_to_knowledge_graph_spark.operators.mentions import AliasMatcher

    if engine not in ENGINES:
        sys.exit(f"engine must be one of {ENGINES}, not {engine!r}")
    entities = build_entities(seed=42)
    alias_rows = build_alias_rows(seed=42)
    pages = pd.DataFrame(
        [
            r
            for i in range(n_docs)
            for r in [gen_doc(42, i, entities)]
            if r["lang"] == "en"
        ]
    )
    matcher = AliasMatcher(alias_rows)
    n_triples = 0

    def work() -> None:
        nonlocal n_triples
        # the arguments of extract_triples_fused / extract_triples_fused_block
        rows = extract_batch(
            pages, matcher, triple_rows, engine, sentences=engine != "block"
        )
        n_triples = len(rows)

    t0 = time.perf_counter()
    prof = cProfile.Profile()
    prof.enable()
    work()
    prof.disable()
    wall = time.perf_counter() - t0

    buf = io.StringIO()
    stats = pstats.Stats(prof, stream=buf)
    stats.sort_stats("cumulative").print_stats(30)
    print(buf.getvalue())
    print(
        f"engine={engine} docs={n_docs} triples={n_triples} wall={wall:.2f}s "
        f"({n_triples / wall:.0f} triples/s single-core)"
    )


if __name__ == "__main__":
    main()
