"""The traced run: per-layer self times and counts for one workload.

The job runs untraced, traced (spans at the calls into each layer, see
``jobs.py``) and untraced again; the traced wall minus the mean untraced
wall is the tracing overhead. The per-page Python layers of the sentence
engine are then replayed on one core (``layers.py``).

A side run then measures the layers no kept workload's job runs: one
checkpointed block-engine pipeline over the same pages, exported to CX2
(``checkpoint.*``; on ``crawl_extract`` also ``pipeline.*``,
``graph.annotation_s``, ``graph.edges_s`` and ``cx2.*``), and a
single-core replay of the block engine (``extraction.*``). Where the
workload's own job reaches a layer, its own spans are reported.
"""

from __future__ import annotations

import time

from kgbench import probes
from kgbench.jobs import checkpointed_block
from kgbench.layers import replay
from kgbench.trace import Tracer

SENTENCE_PAGE_LAYERS = (
    "html_extract.paragraphs",
    "html_extract.sentences",
    "mentions.find",
    "statements.extract",
)
MIN_BLOCK_PR = 0.95


def traced_metrics(run, ctx, verified, context: dict):
    """Returns (metrics, attempted jobs, failed jobs, problems)."""
    wl, problems, failed = run.wl, [], 0
    steal0, t0 = probes.steal_s(), time.perf_counter()

    def untraced() -> float:
        nonlocal failed
        wall, _cpu, result, _out = run.timed_job(ctx)
        if wl.signature(ctx, result) != verified.signature:
            failed += 1
        run.spark.catalog.clearCache()
        return wall

    # untraced jobs before and after the traced one, so their mean carries
    # no warm-up order bias
    before = untraced()
    tracer = Tracer()
    extra = wl.traced(ctx, tracer, run.fresh_dir("traced"))
    run.spark.catalog.clearCache()
    if extra["signature"] != verified.signature:
        failed += 1
    untraced_s = (before + untraced()) / 2

    pages = ctx.pages.toPandas()
    replay(tracer, pages, ctx.alias_rows, engine="sentence")
    counts = tracer.counts
    if counts["statements.triples"] != verified.triples:
        problems.append(
            f"replay found {counts['statements.triples']} triples, the job {verified.triples}"
        )

    side = Tracer()
    block = checkpointed_block(ctx, side, run.fresh_dir("checkpointed"))
    run.spark.catalog.clearCache()
    problems += block["problems"]
    if min(block["precision"], block["recall"]) < MIN_BLOCK_PR:
        problems.append(f"block engine P/R {block['precision']}/{block['recall']}")
    replay(side, pages, ctx.alias_rows, engine="block")
    if side.counts["extraction.kept"] != block["triples"]:
        problems.append("block replay and checkpointed run disagree on triples")
    context["block_precision"], context["block_recall"] = block["precision"], block["recall"]
    steal_cores = (probes.steal_s() - steal0) / (time.perf_counter() - t0)

    # the workload's own spans first; the side run fills the layers its
    # job does not reach
    main_own, side_own = tracer.self_times(), side.self_times()
    own = {**side_own, **main_own}
    tot = {**side.totals(), **tracer.totals()}
    extra = {**block, **extra}
    own_page = sum(main_own.get(n, 0.0) for n in SENTENCE_PAGE_LAYERS)
    commit_s = sum(v for k, v in tot.items() if k.startswith("commit."))

    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    m = {
        "session.task_floor_s": context["task_floor_s"],
        "session.calib_s": context["calib_s"],
        "session.partitions": context["partitions"],
        "session.steal_cores": steal_cores,
        "html_extract.paragraphs_s": own["html_extract.paragraphs"],
        "html_extract.sentences_s": own["html_extract.sentences"],
        "mentions.build_s": own["mentions.build"],
        "mentions.find_s": own["mentions.find"],
        "statements.extract_s": own["statements.extract"],
        "statements.yield": ratio(counts["statements.triples"], counts["statements.calls"]),
        "extraction.normalize_s": own["extraction.normalize"],
        "extraction.block_s": own["extraction.block"],
        "extraction.split_s": own["extraction.split"],
        "extraction.statements": int(side.counts["extraction.statements"]),
        "extraction.yield": ratio(
            side.counts["extraction.kept"], side.counts["extraction.statements"]
        ),
        "fused.wall_s": tot["fused"],
        "fused.overhead_s": tot["fused"] - own_page / ctx.cores,
        "pipeline.plan_s": own["pipeline"],
        "graph.annotation_s": tot["graph.annotation"],
        "graph.nodes_s": tot["graph.nodes"],
        "graph.edges_s": tot.get("graph.edges", tot["commit.edges"]),
        "cx2.collect_s": tot["cx2.collect"],
        "cx2.serialize_s": tot["cx2.serialize"],
        "checkpoint.commit_s": commit_s,
        "checkpoint.overhead_s": commit_s - extra["checkpoint.write_s"],
        "checkpoint.resume_s": tot["checkpoint.resume"],
        "sink.write_s": tot["sink.write"],
        "trace.job_s": tot["job"],
        "trace.overhead_s": tot["job"] - untraced_s,
    }
    for name in (
        "html_extract.pages", "html_extract.pages_empty", "html_extract.paragraphs",
        "html_extract.sentences", "html_extract.bytes_in", "mentions.calls",
        "mentions.mentions", "statements.calls", "statements.triples",
    ):
        m[name] = int(counts[name])
    for name in (
        "graph.nodes", "graph.edges", "cx2.bytes", "checkpoint.rows",
        "checkpoint.bytes_written", "sink.bytes",
    ):
        m[name] = int(extra[name])
    context["untraced_job_s"] = untraced_s
    context["self_times"], context["side_self_times"] = main_own, side_own
    return m, 3, failed, problems
