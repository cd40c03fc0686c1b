"""One benchmark job: a fresh driver process that runs one workload end to end
through the public prase_spark API, then checks and measures its outputs.

    python3 perfbench/job.py --workload embed_fusion --inputs DIR --work DIR \
        --spawn-time T [--trace]

Launched by ``perfbench/run.py``, which sets the Spark launch environment
(master, event log, local dirs, PYTHONPATH). Prints one JSON object as its
last stdout line and writes it to ``<work>/result.json``.

Timing: ``setup_s`` runs from ``--spawn-time`` (set by the launcher just
before this process starts) to ``config.get_spark()`` returning; ``e2e_s``
runs from the first read of the input tables to the last materialized
graph table being written. Checks and trace bookkeeping run after it.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--spawn-time", type=float, required=True)
    ap.add_argument("--trace", action="store_true")
    return ap.parse_args()


# --- workloads ---------------------------------------------------------------
# Each returns the frames the checks need. Modules are reached through their
# attributes so the tracer's wrappers (layertrace.install) see every call.


def _cfg(iterations: int, work: str):
    from prase_spark.config import ParisConfig

    return ParisConfig(iterations=iterations, checkpoint_dir=os.path.join(work, "ckpt"))


def _finish(pl, raws, kgs, state, cfg, work, n_buckets=None):
    """Canonical ids + materialize of every input triple, both sides."""
    from prase_spark import matching

    canon = matching.canonical_entity_ids(state.matches_sub, cfg.theta)
    outs = {
        side: pl.materialize(
            raws[side], kgs[side], canon, side=side,
            out_path=os.path.join(work, "out", f"graph_{side}"), n_buckets=n_buckets,
        )
        for side in "LR"
    }
    return {"raws": raws, "kgs": kgs, "state": state, "canon": canon, "outs": outs, "cfg": cfg}


def run_crawl_build(spark, inp, work):
    """pages -> extract -> build_kg -> literal seed -> one PARIS iteration
    with a durable checkpoint -> canonical ids -> bucketed materialize."""
    from prase_spark import extract
    from prase_spark import pipeline as pl

    pages = {s: spark.read.parquet(os.path.join(inp, f"pages_{s.lower()}.parquet")) for s in "LR"}
    raws = {s: extract.pages_to_raw_triples(pages[s]) for s in "LR"}
    kg_l, kg_r = pl.build_kgs_from_raw(spark, raws["L"], raws["R"])
    cfg = _cfg(1, work)
    run = pl.align(spark, kg_l, kg_r, cfg, checkpoint=True)
    return _finish(pl, raws, {"L": kg_l, "R": kg_r}, run.state, cfg, work, n_buckets=8)


def run_embed_fusion(spark, inp, work):
    """raw triples -> build_kg -> embedding argmax reset over LSH blocks ->
    canonical ids -> materialize. An empty prior state bypasses the literal
    seed. No PARIS iteration follows the reset: one costs about 18 s on a
    4-core host, more than the benchmark's run budget leaves
    (perfbench/NOTES.md)."""
    from prase_spark import embed, paris
    from prase_spark import pipeline as pl

    raws = {s: spark.read.parquet(os.path.join(inp, f"kg_{s.lower()}.parquet")) for s in "LR"}
    kg_l, kg_r = pl.build_kgs_from_raw(spark, raws["L"], raws["R"])
    kgs = {"L": kg_l, "R": kg_r}
    embs = {
        s: embed.resolve_embeddings(
            spark.read.parquet(os.path.join(inp, f"emb_{s.lower()}.parquet")), kgs[s].nodes
        )
        for s in "LR"
    }
    cfg = _cfg(0, work)
    empty = spark.createDataFrame([], "ent_id LONG, counterpart_id LONG, prob DOUBLE, is_lit BOOLEAN")
    run = pl.prase_feedback_align(
        spark, kg_l, kg_r, cfg, embeddings_l=embs["L"], embeddings_r=embs["R"],
        prior_state=paris.init_state(spark, empty, empty),
        reset_from_embeddings=True, reset_use_lsh=True,
    )
    return _finish(pl, raws, kgs, run.state, cfg, work)


WORKLOADS = {
    "crawl_build": run_crawl_build,
    "embed_fusion": run_embed_fusion,
}


# --- checks and output metrics ----------------------------------------------


def multiset_digests(frames: dict) -> dict:
    """Spark twin of gen.multiset_digest for each frame of ``frames`` (one
    job): row count + exact sum of 60-bit md5 hashes of every row's columns
    cast to string, independent of row order and partitioning."""
    from functools import reduce

    from pyspark.sql import functions as F

    def row_hash(df):
        joined = F.concat_ws("\x01", *[F.col(c).cast("string") for c in df.columns])
        return F.conv(F.substring(F.md5(joined), 1, 15), 16, 10)

    tagged = [
        df.select(F.lit(k).alias("__k"), row_hash(df).alias("__h")) for k, df in frames.items()
    ]
    rows = (
        reduce(lambda a, b: a.unionByName(b), tagged)
        .groupBy("__k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("__h").cast("decimal(38,0)")).alias("s"))
        .collect()
    )
    out = {k: {"count": 0, "checksum": "0"} for k in frames}
    for r in rows:
        out[r["__k"]] = {"count": int(r["n"]), "checksum": str(int(r["s"]))}
    return out


def match_state_digest(matches) -> dict:
    """Digest of the final match state; prob rounded to 1e-9 so float
    summation order cannot flip it."""
    from pyspark.sql import functions as F

    m = matches.select(
        F.col("ent_id").cast("string").alias("subj"),
        F.col("counterpart_id").cast("string").alias("pred"),
        F.format_number(F.round("prob", 9), 9).alias("obj"),
    )
    return multiset_digests({"m": m})["m"]


def gold_ids(spark, inp, kgs):
    from pyspark.sql import functions as F

    gold = spark.read.parquet(os.path.join(inp, "gold.parquet"))
    ents = {
        s: kgs[s].nodes.filter(~F.col("is_literal")).select("ent_id", "name") for s in "LR"
    }
    return (
        gold.join(ents["L"].withColumnRenamed("name", "name_l").withColumnRenamed("ent_id", "ent_l"), "name_l")
        .join(ents["R"].withColumnRenamed("name", "name_r").withColumnRenamed("ent_id", "ent_r"), "name_r")
        .select("ent_l", "ent_r")
    )


def data_files(root: str) -> list[str]:
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".parquet")]
    return out


def check_outputs(spark, workload, inp, meta, res, work) -> tuple[dict, dict]:
    """Returns (checks: name -> bool, values the metrics need)."""
    from prase_spark.evaluate import evaluate_alignment

    checks, vals = {}, {}
    # read by both the evaluation and the digest; the e2e window is closed
    res["state"].matches_sub = res["state"].matches_sub.persist()
    frames = {f"out_{s}": res["outs"][s].select("subj", "pred", "obj") for s in "LR"}
    if workload == "crawl_build":
        frames.update(
            {f"raw_{s}": res["raws"][s].select("subj", "pred", "obj", "is_attr") for s in "LR"}
        )
    digests = multiset_digests(frames)
    got = {s: digests[f"out_{s}"] for s in "LR"}
    if workload == "crawl_build":
        # the extracted multiset must equal the facts the pages state
        extracted = {s: digests[f"raw_{s}"] for s in "LR"}
        raw_counts = {s: extracted[s]["count"] for s in "LR"}
        for side in "LR":
            checks[f"extracted_{side}_equals_expected"] = (
                extracted[side] == meta[f"expected_{side.lower()}"]
            )
    else:
        raw_counts = {s: meta[f"facts_{s.lower()}"] for s in "LR"}
    for side in "LR":
        vals[f"rows_{side}"] = got[side]["count"]
        checks[f"materialized_{side}_rows_equal_raw"] = got[side]["count"] == raw_counts[side]
    gold = gold_ids(spark, inp, res["kgs"])
    ev = evaluate_alignment(res["state"].matches_sub, gold, thresholds=[res["cfg"].theta])[0]
    vals["gold_resolved"] = ev["gold"]
    checks["gold_resolves"] = ev["gold"] == meta["gold"]
    vals["f1"], vals["precision"], vals["recall"] = ev["f1"], ev["precision"], ev["recall"]
    checks["f1_positive"] = vals["f1"] > 0.0
    vals["match_digest"] = match_state_digest(res["state"].matches_sub)
    files = data_files(os.path.join(work, "out"))
    vals["out_bytes"] = sum(os.path.getsize(f) for f in files)
    vals["out_files"] = len(files)
    n_out = vals["rows_L"] + vals["rows_R"]
    checks["output_written"] = n_out > 0 and vals["out_bytes"] > 0
    vals["out_bytes_per_triple"] = vals["out_bytes"] / max(n_out, 1)
    vals["gold"] = gold
    return checks, vals


def peak_rss_mb(root_pid: int) -> tuple[float, dict]:
    """Sum of VmHWM over every descendant of ``root_pid`` (the Spark JVM and
    its Python workers; the driver interpreter itself is excluded), and
    [process count, MB] per command name."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="utf8") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    by_name: dict[str, list] = {}
    todo = list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        try:
            with open(f"/proc/{pid}/status", encoding="utf8") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            entry = by_name.setdefault(fields["Name"].strip(), [0, 0.0])
            entry[0] += 1
            entry[1] += int(fields["VmHWM"].split()[0]) / 1024.0
    return sum(mb for _, mb in by_name.values()), by_name


def main() -> None:
    args = _parse()
    with open(os.path.join(args.inputs, "meta.json"), encoding="utf8") as f:
        meta = json.load(f)
    tracer = None
    if args.trace:
        import layertrace as tr

        tracer = tr.Tracer()
        tracer.install()
    # import every layer before the session starts, so that import time
    # lands in setup_s in traced and untraced jobs alike
    from prase_spark import config, embed, extract, matching, paris, pipeline  # noqa: F401

    spark = config.get_spark(f"perfbench-{args.workload}")
    setup_s = time.time() - args.spawn_time
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    if tracer:
        tracer.begin_e2e(t0)
    res = WORKLOADS[args.workload](spark, args.inputs, args.work)
    t1 = time.time()
    if tracer:
        tracer.end_e2e(t1)

    checks, vals = check_outputs(spark, args.workload, args.inputs, meta, res, args.work)
    checks_s = time.time() - t1
    result = {
        "workload": args.workload,
        "checks": checks,
        "ok": all(checks.values()),
        "match_digest": vals["match_digest"],
        "metrics": {
            "e2e_s": t1 - t0,
            "setup_s": setup_s,
            "f1": vals["f1"],
            "out_bytes_per_triple": vals["out_bytes_per_triple"],
        },
        "quality": {k: vals[k] for k in ("precision", "recall", "rows_L", "rows_R", "out_files")},
        "checks_s": checks_s,
    }
    result["metrics"]["peak_rss_mb"], result["rss_by_process"] = peak_rss_mb(os.getpid())
    if tracer:
        result["layer_counts"] = tracer.layer_counts(spark, meta, res, vals, args.work)
    spark.stop()
    if tracer:
        result["trace"] = tracer.report(
            os.path.join(args.work, "eventlog"), result["layer_counts"],
            os.path.join(args.work, "spans.json"),
        )
    line = json.dumps(result)
    with open(os.path.join(args.work, "result.json"), "w", encoding="utf8") as f:
        f.write(line)
    print(line, flush=True)


if __name__ == "__main__":
    main()
