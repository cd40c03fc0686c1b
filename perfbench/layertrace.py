"""Layer tracing for the pipeline benchmark, from outside the program.

``Tracer.install`` replaces each layer's public entry function with a wrapper
that records one span per call (name, start, end, parent) and forces the
call's lazy output at the boundary (persist + count), so the layer's Spark
work runs inside its own span. Spans stay in memory and are written as JSON
when the job ends.

Spark task time, shuffle writes, spills and GC come from the Spark event log
(enabled by the launcher's ``--conf spark.eventLog.*``; no program change).
Each job is attributed to the innermost span whose window contains the job's
submit time. Job groups are not used: jobs submitted from the engine's own
driver threads (``concurrency.materialize_concurrently``) carry no job-group
properties.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import statistics
import time
import uuid

LAYERS = ("config", "extract", "kgbuild", "seed", "embed", "paris",
          "checkpoint", "matching", "io")

MB = 1024.0 * 1024.0


def _force(out):
    """persist + count every DataFrame in ``out``; returns (out, rows)."""
    from pyspark.sql import DataFrame

    if isinstance(out, DataFrame):
        out = out.persist()
        return out, out.count()
    if isinstance(out, tuple) and out and all(isinstance(o, DataFrame) for o in out):
        forced = [_force(o) for o in out]
        return tuple(f[0] for f in forced), [f[1] for f in forced]
    return out, None


def _force_kgs(out):
    """build_kgs_from_raw pins triples itself; nodes/predicates are lazy
    persists that the next layer would otherwise materialize."""
    for kg in out:
        kg.nodes.count()
        kg.predicates.count()
    return out, None


def _as_is(out):
    return out, None


# (module, function, layer, how to force the output)
WRAPPED = (
    ("prase_spark.config", "get_spark", "config", _as_is),
    ("prase_spark.extract", "pages_to_raw_triples", "extract", _force),
    ("prase_spark.pipeline", "build_kgs_from_raw", "kgbuild", _force_kgs),
    ("prase_spark.pipeline", "literal_seed_matches", "seed", _force),
    ("prase_spark.embed", "resolve_embeddings", "embed", _force),
    ("prase_spark.embed", "embedding_reset_matches", "embed", _force),
    # run_iteration returns a pinned state; roundtrip_state and materialize
    # write before returning
    ("prase_spark.pipeline", "run_iteration", "paris", _as_is),
    ("prase_spark.pipeline", "roundtrip_state", "checkpoint", _as_is),
    ("prase_spark.matching", "canonical_entity_ids", "matching", _force),
    ("prase_spark.pipeline", "materialize", "io", _as_is),
)


class Tracer:
    def __init__(self) -> None:
        self.trace_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.outputs: dict[str, list] = {}  # layer -> forced outputs, in call order
        self.lsh_calls: list[tuple] = []
        self.lsh_candidate_pairs = None  # the unwrapped function
        self.cores = os.cpu_count() or 1

    # --- spans -------------------------------------------------------------

    def _open(self, name: str, start: float) -> dict:
        span = {
            "trace": self.trace_id,
            "id": len(self.spans),
            "name": name,
            "start": start,
            "end": None,
            "parent": self._stack[-1]["id"] if self._stack else None,
        }
        self.spans.append(span)
        self._stack.append(span)
        return span

    def _close(self, span: dict, end: float) -> None:
        span["end"] = end
        self._stack.remove(span)

    def begin_e2e(self, t: float) -> None:
        self._open("e2e", t)

    def end_e2e(self, t: float) -> None:
        self._close(self.spans[[s["name"] for s in self.spans].index("e2e")], t)

    def _wrap(self, fn, layer, force):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self._open(layer, time.time())
            try:
                out, rows = force(fn(*args, **kwargs))
            finally:
                self._close(span, time.time())
            span["rows"] = rows
            self.outputs.setdefault(layer, []).append(out)
            return out

        return traced

    def install(self) -> None:
        for mod_name, fn_name, layer, force in WRAPPED:
            mod = importlib.import_module(mod_name)
            setattr(mod, fn_name, self._wrap(getattr(mod, fn_name), layer, force))
        # candidate pairs are counted after the e2e window by calling the
        # function again with the recorded arguments
        embed = importlib.import_module("prase_spark.embed")
        lsh = self.lsh_candidate_pairs = embed.lsh_candidate_pairs

        @functools.wraps(lsh)
        def recorded(*args, **kwargs):
            self.lsh_calls.append((args, kwargs))
            return lsh(*args, **kwargs)

        embed.lsh_candidate_pairs = recorded

    # --- layer work counts (run after the e2e window closes) ---------------

    def layer_counts(self, spark, meta, res, vals, work) -> dict:
        from pyspark.sql import functions as F

        c: dict[str, float] = {}
        cfg, kgs, gold = res["cfg"], res["kgs"], vals["gold"]
        if "extract" in self.outputs:
            pages = meta["pages_l"] + meta["pages_r"]
            triples = sum(s["rows"] for s in self.spans if s["name"] == "extract")
            c["extract.pages"] = pages
            c["extract.triples_per_page"] = triples / pages
        c["kgbuild.facts"] = sum(kg.triple_count() // 2 for kg in kgs.values())
        c["kgbuild.entities"] = sum(kg.entity_count() for kg in kgs.values())
        if "seed" in self.outputs:
            sub = self.outputs["seed"][0][0]
            names = {
                s: kgs[s].nodes.select(F.col("ent_id"), F.col("name").alias(f"name_{s}"))
                for s in "LR"
            }
            # KG2 copies every literal string verbatim unless perturbed, so
            # a literal seed pair is right when both literal names agree
            named = (
                sub.join(names["L"], "ent_id")
                .join(names["R"].withColumnRenamed("ent_id", "counterpart_id"), "counterpart_id")
            )
            pairs = sub.count()
            c["seed.pairs"] = pairs
            c["seed.precision"] = (
                named.filter(F.col("name_L") == F.col("name_R")).count() / pairs if pairs else 0.0
            )
        if self.lsh_calls:
            args, kwargs = self.lsh_calls[0]
            cands = self.lsh_candidate_pairs(*args, **kwargs).count()
            c["embed.candidates_per_entity"] = cands / max(args[0].count(), 1)
        if "embed" in self.outputs:
            reset_sub = self.outputs["embed"][-1][0]
            hit = reset_sub.join(
                gold.withColumnRenamed("ent_l", "ent_id").withColumnRenamed("ent_r", "counterpart_id"),
                ["ent_id", "counterpart_id"],
            ).count()
            c["embed.reset_recall"] = hit / max(vals["gold_resolved"], 1)
        m = res["state"].matches_sub
        c["paris.matches"] = m.filter((~F.col("is_lit")) & (F.col("prob") >= cfg.theta)).count()
        c["checkpoint.bytes_written_mb"] = _tree_bytes(os.path.join(work, "ckpt")) / MB
        c["matching.clusters"] = res["canon"].select("canonical_id").distinct().count()
        rows = vals["rows_L"] + vals["rows_R"]
        covered = sum(o.filter(F.col("canonical_subj").isNotNull()).count() for o in res["outs"].values())
        c["io.bytes_written_mb"] = _tree_bytes(os.path.join(work, "out")) / MB
        c["io.files"] = vals["out_files"]
        c["io.canonical_coverage"] = covered / max(rows, 1)
        self.cores = spark.sparkContext.defaultParallelism
        return c

    # --- report --------------------------------------------------------------

    def report(self, eventlog_dir: str, counts: dict, spans_path: str) -> dict:
        with open(spans_path, "w", encoding="utf8") as f:
            json.dump(self.spans, f)
        jobs, tasks_by_job = _read_event_log(eventlog_dir)
        e2e = next(s for s in self.spans if s["name"] == "e2e")
        e2e_s = e2e["end"] - e2e["start"]

        def self_time(span):
            kids = [s for s in self.spans if s["parent"] == span["id"]]
            return (span["end"] - span["start"]) - sum(k["end"] - k["start"] for k in kids)

        def owner(t_ms):
            t = t_ms / 1000.0
            inside = [s for s in self.spans if s["start"] <= t <= s["end"]]
            if not inside:
                return None
            return max(inside, key=lambda s: s["start"])["name"]

        per_layer = {layer: {"s": 0.0, "tasks": []} for layer in LAYERS + ("e2e",)}
        for s in self.spans:
            per_layer[s["name"]]["s"] += self_time(s)
        for job_id, submit in jobs.items():
            name = owner(submit)
            if name is not None:
                per_layer[name]["tasks"] += tasks_by_job.get(job_id, [])

        out: dict[str, float] = {}
        for layer in LAYERS:
            d = per_layer[layer]
            task_s = sum(t["dur"] for t in d["tasks"])
            out[f"{layer}.s"] = d["s"]
            out[f"{layer}.task_s"] = task_s
            out[f"{layer}.slot_util"] = task_s / (d["s"] * self.cores) if d["s"] > 0 else 0.0
            out[f"{layer}.shuffle_write_mb"] = sum(t["shuffle_write"] for t in d["tasks"]) / MB
            out[f"{layer}.spill_mb"] = sum(t["spill"] for t in d["tasks"]) / MB
            out[f"{layer}.gc_s"] = sum(t["gc"] for t in d["tasks"])
            if layer != "config":
                out[f"{layer}.share"] = d["s"] / e2e_s
        inside = sum(per_layer[layer]["s"] for layer in LAYERS if layer != "config")
        out["unattributed.s"] = e2e_s - inside
        out["e2e_traced_s"] = e2e_s

        iters = [s["end"] - s["start"] for s in self.spans if s["name"] == "paris"]
        durs = [t["dur"] for t in per_layer["paris"]["tasks"]]
        out["paris.iter_s_median"] = statistics.median(iters) if iters else 0.0
        out["paris.iter_s_max"] = max(iters) if iters else 0.0
        out["paris.facts_per_s"] = (
            counts["kgbuild.facts"] * len(iters) / out["paris.s"] if out["paris.s"] > 0 else 0.0
        )
        med = statistics.median(durs) if durs else 0.0
        out["paris.task_skew"] = max(durs) / med if med > 0 else 0.0
        if "extract.pages" in counts:
            out["extract.pages_per_s"] = counts["extract.pages"] / out["extract.s"]
        for k, v in counts.items():
            if k != "extract.pages":
                out[k] = float(v)
        return out


def _tree_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs)


def _read_event_log(eventlog_dir: str) -> tuple[dict, dict]:
    """(job id -> submit time ms, job id -> [task dicts]) from the one
    application log under ``eventlog_dir``."""
    files = [os.path.join(eventlog_dir, f) for f in os.listdir(eventlog_dir)]
    if len(files) != 1 or not os.path.isfile(files[0]):
        raise RuntimeError(f"expected one plain event log file in {eventlog_dir}, found {files}")
    jobs: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    submitted: set[int] = set()
    tasks: dict[int, list] = {}
    for line in _lines(files[0]):
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = ev["Submission Time"]
            for sid in ev["Stage IDs"]:
                if sid not in submitted:
                    stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerStageSubmitted":
            submitted.add(ev["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            job = stage_job.get(ev["Stage ID"])
            if job is None:
                continue
            tasks.setdefault(job, []).append(
                {
                    "dur": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                    "gc": m.get("JVM GC Time", 0) / 1000.0,
                    "spill": m.get("Disk Bytes Spilled", 0),
                    "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ),
                }
            )
    return jobs, tasks


def _lines(path):
    with open(path, encoding="utf8") as f:
        yield from f
