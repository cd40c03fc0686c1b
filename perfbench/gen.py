"""Seeded, single-process input generator for the pipeline benchmark.

Writes the files a workload's job reads, once per (workload, seed):

- ``crawl_build``: two disjoint page crawls of one synthetic world in the
  page schema (url, warc_ts, html, text, lang), plus the facts each crawl
  states (the expected extraction) and the gold entity pairs.
- ``embed_fusion``: two raw-triple KGs, KG2 a renamed copy of KG1 with edge
  dropout and literal perturbation, power-law skewed tails and hub date
  literals, plus gold entity pairs and 32-dimensional entity embeddings,
  each KG2 vector a noisy copy of its gold counterpart.

Parquet is the table format (the Iceberg stand-in ``prase_spark/io.py``
documents). Everything derives from the seed; no Spark is involved.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per workload. Chosen so one job fits the benchmark's run
# budget on a 4-core host (see perfbench/NOTES.md for the measurements).
SIZES = {
    "crawl_build": {"people": 2000, "body_min": 4000, "body_max": 6000},
    "embed_fusion": {"entities": 2000, "preds": 24, "dates": 400, "dim": 32},
}

RAW_SCHEMA = pa.schema(
    [("subj", pa.string()), ("pred", pa.string()), ("obj", pa.string()), ("is_attr", pa.bool_())]
)
PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
GOLD_SCHEMA = pa.schema([("name_l", pa.string()), ("name_r", pa.string())])


def triple_hash(subj: str, pred: str, obj: str, is_attr: bool) -> int:
    """60-bit content hash of one triple; the job computes the same value in
    Spark (``md5`` of the \\x01-joined fields, ``is_attr`` cast to string,
    first 15 hex digits)."""
    row = "\x01".join((subj, pred, obj, "true" if is_attr else "false"))
    return int(hashlib.md5(row.encode("utf-8")).hexdigest()[:15], 16)


def multiset_digest(rows) -> dict:
    """Order-independent multiset digest: row count + sum of row hashes."""
    n, total = 0, 0
    for s, p, o, a in rows:
        n += 1
        total += triple_hash(s, p, o, a)
    return {"count": n, "checksum": str(total)}


def _write(path: str, rows: dict, schema: pa.Schema) -> None:
    pq.write_table(pa.table(rows, schema=schema), path)


def _columns(rows, names):
    return {n: [r[i] for r in rows] for i, n in enumerate(names)}


# --- crawl_build -------------------------------------------------------------

_FILLER = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt ut labore et dolore magna aliqua enim ad minim veniam "
    "quis nostrud exercitation ullamco laboris nisi aliquip ex ea commodo "
    "consequat duis aute irure in reprehenderit voluptate velit esse cillum "
    "fugiat nulla pariatur excepteur sint occaecat cupidatat non proident sunt "
    "culpa qui officia deserunt mollit anim id est laborum"
).split()
_TYPES = ["Researcher", "Engineer", "Author", "Teacher", "Physician", "Artist"]


def _world(rng: random.Random, n_people: int) -> dict:
    n_city, n_country, n_org = max(20, n_people // 40), 25, max(30, n_people // 25)
    city_country = [rng.randrange(n_country) for _ in range(n_city)]
    org_city = [rng.randrange(n_city) for _ in range(n_org)]
    people = []
    for i in range(n_people):
        people.append(
            {
                "name": f"Person_{i}",
                "city": rng.randrange(n_city),
                "orgs": rng.sample(range(n_org), rng.randint(1, 2)),
                "types": rng.sample(_TYPES, rng.randint(1, 2)),
                "attrs": [
                    ("fullname", f"{rng.choice('ABCDEFGHJKLMNPRSTW')}. Doe {i}"),
                    ("birthyear", str(1900 + rng.randrange(110))),
                    ("email", f"person{i}@mail.example"),
                    ("height", f"1.{rng.randrange(50, 99)}"),
                ],
            }
        )
    return {"city_country": city_country, "org_city": org_city, "people": people}


def _person_facts(world: dict, p: dict) -> list[tuple[str, str, str, bool]]:
    me = p["name"]
    city = f"City_{p['city']}"
    facts = [(me, "bornIn", city, False)]
    facts.append((city, "locatedIn", f"Country_{world['city_country'][p['city']]}", False))
    for o in p["orgs"]:
        facts.append((me, "employer", f"Org_{o}", False))
        facts.append((f"Org_{o}", "locatedIn", f"City_{world['org_city'][o]}", False))
    for t in p["types"]:
        facts.append((me, "type", t, False))
    for a, v in p["attrs"]:
        facts.append((me, a, v, True))
    return facts


def _sentence(s: str, p: str, o: str, is_attr: bool) -> str:
    if is_attr:
        return f'{s} \'s {p} is "{o}" .'
    verb = {"bornIn": "was born in", "employer": "works for",
            "locatedIn": "is located in", "type": "is a"}[p]
    return f"{s} {verb} {o} ."


def _page_text(rng: random.Random, facts, size: int) -> str:
    sents = [_sentence(*f) for f in facts]
    rng.shuffle(sents)
    parts = []
    filler_needed = max(0, size - sum(len(s) + 1 for s in sents))
    # spread the fact sentences through lowercase filler paragraphs, which
    # no extraction pattern can match
    per_gap = filler_needed // (len(sents) + 1)
    for s in [None] + sents:
        if s is not None:
            parts.append(s)
        words, n = [], 0
        while n < per_gap:
            w = _FILLER[rng.randrange(len(_FILLER))]
            words.append(w)
            n += len(w) + 1
        if words:
            parts.append(" ".join(words) + " .")
    return " ".join(parts)


_HTML = (
    "<html><head><title>{title}</title><script>var pv = {n};</script>"
    "<style>.c{{color:#333}}</style></head><body><h1>{title}</h1><p>{text}</p>"
    "</body></html>"
)


def gen_crawl_build(seed: int, out: str) -> dict:
    cfg = SIZES["crawl_build"]
    rng = random.Random(seed)
    world = _world(rng, cfg["people"])
    meta = {"people": cfg["people"]}
    entities = {}
    for side, host, drop in (("l", "a.example", 0.0), ("r", "b.example", 0.1)):
        srng = random.Random(seed * 1000 + (1 if side == "l" else 2))
        pages, expected = [], []
        for i, p in enumerate(world["people"]):
            facts = _person_facts(world, p)
            if drop:
                # the second crawl sees a partial view: drop some non-core facts
                facts = facts[:1] + [f for f in facts[1:] if srng.random() >= drop]
            url = f"https://{host}/wiki/{p['name']}"
            text = _page_text(srng, facts, srng.randint(cfg["body_min"], cfg["body_max"]))
            html = _HTML.format(title=p["name"], n=i, text=text).encode("utf-8")
            ts = datetime(2024, 1 + i % 12, 1 + i % 28, tzinfo=timezone.utc)
            pages.append((url, ts, html, text, "en"))
            expected += [(url, s, pr, o, a) for s, pr, o, a in facts]
        _write(os.path.join(out, f"pages_{side}.parquet"),
               _columns(pages, PAGES_SCHEMA.names), PAGES_SCHEMA)
        _write(os.path.join(out, f"expected_{side}.parquet"),
               _columns(expected, ["url", "subj", "pred", "obj", "is_attr"]),
               pa.schema([("url", pa.string())] + list(RAW_SCHEMA)))
        meta[f"pages_{side}"] = len(pages)
        meta[f"expected_{side}"] = multiset_digest(r[1:] for r in expected)
        meta[f"page_bytes_{side}"] = sum(len(r[3]) for r in pages)
        entities[side] = {s for _, s, _, _, _ in expected} | {
            o for _, _, _, o, a in expected if not a
        }
    # both crawls name world entities identically: gold pairs every entity
    # that both crawls mention with itself
    names = sorted(entities["l"] & entities["r"])
    _write(os.path.join(out, "gold.parquet"), {"name_l": names, "name_r": names}, GOLD_SCHEMA)
    meta["gold"] = len(names)
    return meta


# --- embed_fusion ------------------------------------------------------------

KG1_ENT = "http://a.example/resource/E{}"
KG2_ENT = "http://b.example/entity/Q{}"
KG1_PRED = "http://a.example/ontology/p{}"
KG2_PRED = "http://b.example/prop/P{}"
KG1_ATTR = "http://a.example/ontology/attr{}"
KG2_ATTR = "http://b.example/prop/A{}"
_DATE = '"{}"^^<http://www.w3.org/2001/XMLSchema#date>'


def _power_law(rng: np.random.Generator, n: int, s: float, size: int) -> np.ndarray:
    """``size`` draws from ranks 0..n-1 with p(k) proportional to (k+1)^-s."""
    p = np.arange(1, n + 1, dtype=np.float64) ** -s
    return rng.choice(n, size=size, p=p / p.sum())


def _kg_pair(seed: int, cfg: dict) -> tuple[dict, dict, list, np.ndarray]:
    """KG1 + its renamed, dropped-out, perturbed copy KG2. Returns the two
    raw tables, the gold name pairs and the KG1->KG2 id permutation."""
    n, n_pred = cfg["entities"], cfg["preds"]
    rng = np.random.default_rng(seed)
    # relation facts: out-degree 1..7, tails power-law skewed over a
    # shuffled rank (p(rank k) ~ k^-0.8: the top hub draws ~3% of all tails)
    deg = rng.integers(1, 8, size=n)
    heads = np.repeat(np.arange(n), deg)
    rank = rng.permutation(n)
    tails = rank[_power_law(rng, n, 0.8, heads.size)]
    preds = rng.integers(0, n_pred, size=heads.size)
    keep = tails != heads
    heads, tails, preds = heads[keep], tails[keep], preds[keep]
    # attribute facts: a unique name, a hub date (power law over a small pool),
    # a numeric value, and for a third of the entities a category literal
    dates = [f"19{50 + d % 50}-{1 + d % 12:02d}-{1 + d % 28:02d}" for d in range(cfg["dates"])]
    date_pick = _power_law(rng, cfg["dates"], 0.8, n)
    score = rng.integers(0, 100000, size=n)
    attr_facts = []
    for e in range(n):
        attr_facts.append((e, 0, f"name-{e:06d}-{int(rng.integers(0, 1 << 30)):x}"))
        attr_facts.append((e, 1, _DATE.format(dates[date_pick[e]])))
        attr_facts.append((e, 2, f"{score[e] / 100:.2f}"))
        if e % 3 == 0:
            attr_facts.append((e, 3 + e % 4, f"category-{e % 37}"))
    perm = rng.permutation(n)  # KG1 entity i is KG2 entity perm[i]

    def table(ent, pred, attr, drop, perturb, id_of):
        r = np.random.default_rng(seed + (7 if drop else 3))
        s, p, o, a = [], [], [], []
        kept = r.random(heads.size) >= drop
        for h, pr, t in zip(heads[kept].tolist(), preds[kept].tolist(), tails[kept].tolist()):
            s.append(ent.format(id_of[h]))
            p.append(pred.format(pr))
            o.append(ent.format(id_of[t]))
            a.append(False)
        flips = r.random(len(attr_facts)) < perturb
        for (e, at, v), flip in zip(attr_facts, flips.tolist()):
            s.append(ent.format(id_of[e]))
            p.append(attr.format(at))
            o.append(v + "~" if flip else v)
            a.append(True)
        return {"subj": s, "pred": p, "obj": o, "is_attr": a}

    ident = np.arange(n)
    kg1 = table(KG1_ENT, KG1_PRED, KG1_ATTR, 0.0, 0.0, ident)
    kg2 = table(KG2_ENT, KG2_PRED, KG2_ATTR, 0.1, 0.05, perm)
    gold = [(KG1_ENT.format(i), KG2_ENT.format(perm[i])) for i in range(n)]
    return kg1, kg2, gold, perm


def gen_embed_fusion(seed: int, out: str) -> dict:
    cfg = SIZES["embed_fusion"]
    kg1, kg2, gold, perm = _kg_pair(seed, cfg)
    _write(os.path.join(out, "kg_l.parquet"), kg1, RAW_SCHEMA)
    _write(os.path.join(out, "kg_r.parquet"), kg2, RAW_SCHEMA)
    _write(os.path.join(out, "gold.parquet"),
           {"name_l": [g[0] for g in gold], "name_r": [g[1] for g in gold]}, GOLD_SCHEMA)
    n, dim = cfg["entities"], cfg["dim"]
    rng = np.random.default_rng(seed + 11)
    base = rng.normal(size=(n, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    noisy = base + rng.normal(size=(n, dim)) * 0.12
    noisy /= np.linalg.norm(noisy, axis=1, keepdims=True)
    right = np.empty_like(noisy)
    right[perm] = noisy  # KG2 entity perm[i] carries KG1 entity i's noisy copy
    emb_type = pa.list_(pa.float32())
    schema = pa.schema([("name", pa.string()), ("embedding", emb_type)])
    _write(os.path.join(out, "emb_l.parquet"),
           {"name": [KG1_ENT.format(i) for i in range(n)],
            "embedding": base.astype(np.float32).tolist()}, schema)
    _write(os.path.join(out, "emb_r.parquet"),
           {"name": [KG2_ENT.format(j) for j in range(n)],
            "embedding": right.astype(np.float32).tolist()}, schema)
    return {"entities": n, "dim": dim, "facts_l": len(kg1["subj"]),
            "facts_r": len(kg2["subj"]), "gold": len(gold)}


GENERATORS = {
    "crawl_build": gen_crawl_build,
    "embed_fusion": gen_embed_fusion,
}


def ensure_inputs(workload: str, seed: int, root: str) -> str:
    """Generate the inputs of (workload, seed) under ``root`` unless a
    complete copy made by this generator (same source, hence same sizes and
    digests) is already there; returns the input directory."""
    out = os.path.join(root, f"{workload}-{seed}")
    with open(__file__, "rb") as f:
        generator = hashlib.sha256(f.read()).hexdigest()
    try:
        with open(os.path.join(out, "meta.json"), encoding="utf8") as f:
            if json.load(f)["generator"] == generator:
                return out
    except (OSError, ValueError, KeyError):
        pass
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = GENERATORS[workload](seed, tmp)
    meta.update({"workload": workload, "seed": seed, "sizes": SIZES[workload],
                 "generator": generator})
    with open(os.path.join(tmp, "meta.json"), "w", encoding="utf8") as f:
        json.dump(meta, f, indent=1)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
