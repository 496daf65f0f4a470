"""Seeded inputs, operations and output checks for each workload.

Inputs are generated by the benchmark from ``--seed`` with the program's
own fixture generators and written as parquet; the program only ever sees
those tables.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass

import pandas as pd

from wiki_entity_linker_spark.fixtures.benchmark import generate_benchmark
from wiki_entity_linker_spark.fixtures.corpus import generate_corpus

#: input size per --scale: the fixture corpus the skewed corpus starts
#: from, how many patched copies of its vendored file it adds, and how many
#: articles the linking workload links
SIZES = {
    "bench": {"corpus": "small", "hot_copies": 400, "articles": 400},
    "tiny": {"corpus": "tiny", "hot_copies": 40, "articles": 40},
}
#: articles whose linked mentions are compared with a pure-Python linker
LINK_SAMPLE = 50

#: pairwise F1 every ER run must reach
MIN_F1 = 0.99


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def file_id(repo: str, path: str, commit: str) -> str:
    """Independent recomputation of the program's canonical file id."""
    return _sha(f"{repo}|{path}|{commit}")


@dataclass
class Inputs:
    dir: str
    seed: int
    #: number of files the timed operation consumes
    records: int
    #: UTF-8 bytes of ``content`` the timed operation consumes
    content_bytes: int
    #: the source files (for the sha256 check)
    files: pd.DataFrame | None = None
    #: ids that must share one component (the skewed hot family)
    hot_ids: tuple[str, ...] = ()
    #: linking workload: the tables as generated, for the reference linker
    tables: dict | None = None

    def path(self, name: str) -> str:
        return os.path.join(self.dir, f"{name}.parquet")


def _utf8_bytes(texts) -> int:
    return int(sum(len(t.encode("utf-8")) for t in texts))


def _write(d: str, tables: dict[str, pd.DataFrame]) -> None:
    os.makedirs(d, exist_ok=True)
    for name, df in tables.items():
        df.to_parquet(os.path.join(d, f"{name}.parquet"), index=False)


def skew_inputs(d: str, seed: int, scale: str) -> Inputs:
    """A fixture corpus plus many copies of its vendored file, each with one
    distinct patch line so every copy survives exact dedup and lands in one
    hot block family that salting must split."""
    size = SIZES[scale]
    c = generate_corpus(size["corpus"], seed)
    files, labels = c["source_files"], c["labeled_pairs"]
    vendored = files[c["gold_clusters"]["entity_id"] == "E_vendored"]
    v = vendored.iloc[0]
    rng = random.Random(f"{seed}-erbench-hot")
    rows = []
    for i in range(size["hot_copies"]):
        repo = f"mirror{i % 97}/hot{i}"
        commit = _sha(f"{repo}:{v.path}:hot")[:40]
        patch = f"/* local patch {i}: {rng.getrandbits(48):012x} */\n"
        rows.append((repo, v.path, commit, v.lang, v.content + patch))
    hot = pd.DataFrame(rows, columns=list(files.columns))
    hot_ids = [file_id(r, p, cm) for r, p, cm, _, _ in rows]
    hot_ids += [file_id(r.repo, r.path, r.commit) for r in vendored.itertuples()]
    pairs = set()
    while len(pairs) < 2 * size["hot_copies"]:
        a, b = rng.sample(hot_ids, 2)
        pairs.add((min(a, b), max(a, b)))
    hot_pairs = pd.DataFrame(
        [(a, b, "vendor_json_core", True) for a, b in sorted(pairs)],
        columns=list(labels.columns),
    )
    files = pd.concat([files, hot], ignore_index=True)
    labels = pd.concat([labels, hot_pairs], ignore_index=True)
    _write(d, {"source_files": files, "labeled_pairs": labels})
    return Inputs(d, seed, len(files), _utf8_bytes(files["content"]), files, tuple(hot_ids))


def split_for_append(inputs: Inputs) -> pd.DataFrame:
    """Seeded-hash 90/10 split of the skewed corpus for the traced run's
    incremental append: writes ``base_files`` and ``batch_files`` next to
    the inputs and returns the batch."""
    files = inputs.files
    in_batch = [
        int(_sha(f"{inputs.seed}|{file_id(r.repo, r.path, r.commit)}")[:8], 16) % 10 == 0
        for r in files.itertuples()
    ]
    batch = files[in_batch]
    _write(inputs.dir, {"base_files": files[[not b for b in in_batch]], "batch_files": batch})
    return batch


def link_inputs(d: str, seed: int, scale: str) -> Inputs:
    """The synthetic linking benchmark: articles with planted entity
    mentions, gold labels and an alias dictionary with ambiguous aliases."""
    tables = generate_benchmark(SIZES[scale]["articles"], seed)
    _write(d, tables)
    articles = tables["articles"]
    return Inputs(d, seed, len(articles), _utf8_bytes(articles["text"]), tables=tables)


# --------------------------------------------------------------------------
# operations


def run_full(spark, inputs: Inputs, workdir: str, files: str = "source_files"):
    """Checkpointed full pipeline; returns (metrics row, stage counters)."""
    from wiki_entity_linker_spark.plans.er_pipeline import run_er_pipeline

    out = run_er_pipeline(
        spark,
        spark.read.parquet(inputs.path(files)),
        spark.read.parquet(inputs.path("labeled_pairs")),
        workdir,
    )
    metrics = out["metrics"].filter("slice = 'all'").collect()[0].asDict()
    out["_cleanup"]()
    return metrics, out["_counters"]


def run_append(spark, inputs: Inputs, base_workdir: str, workdir: str):
    """Append the batch to the clustered base; returns (metrics, counters)."""
    from wiki_entity_linker_spark.plans.er_incremental import run_er_incremental

    out = run_er_incremental(
        spark,
        base_workdir,
        spark.read.parquet(inputs.path("batch_files")),
        workdir,
        labeled_pairs=spark.read.parquet(inputs.path("labeled_pairs")),
    )
    metrics = out["metrics"].filter("slice = 'all'").collect()[0].asDict()
    out["_cleanup"]()
    return metrics, out["_counters"]


def run_link(spark, inputs: Inputs, workdir: str):
    """Link every article, write the linked mentions, and score them
    against the gold labels; returns (metrics row, no stage counters)."""
    from wiki_entity_linker_spark.plans.linking import evaluate_linking, link_articles

    out = os.path.join(workdir, "predictions.parquet")
    link_articles(
        spark.read.parquet(inputs.path("articles")),
        spark.read.parquet(inputs.path("alias_dict")),
    ).write.parquet(out)
    metrics = evaluate_linking(
        spark.read.parquet(out), spark.read.parquet(inputs.path("gold_labels"))
    ).collect()[0].asDict()
    return metrics, {}


# --------------------------------------------------------------------------
# checks: each returns a list of failure messages (empty when all hold)


def check_run(metrics: dict, counters: dict, workdir: str, ingest_stage: str,
              ingested: pd.DataFrame) -> list[str]:
    """Checks every timed run must pass: no stage resumed from an earlier
    run, pairwise F1 at least MIN_F1, and the ingest stage's per-row sha256
    matches a recomputation in Python."""
    errors = []
    resumed = sorted(s for s, c in counters.items() if c.get("resumed"))
    if resumed:
        errors.append(f"stages resumed instead of running: {resumed}")
    if not metrics["f1"] >= MIN_F1:
        errors.append(f"f1 {metrics['f1']} below {MIN_F1}")
    got = pd.read_parquet(os.path.join(workdir, f"{ingest_stage}.parquet"))
    got = set(zip(got["file_id"], got["sha256"]))
    want = {
        (file_id(r.repo, r.path, r.commit), _sha(r.content))
        for r in ingested.itertuples()
    }
    if got != want:
        errors.append(
            f"{ingest_stage} sha256 invariant: {len(got - want)} unexpected, "
            f"{len(want - got)} missing rows"
        )
    return errors


def check_er_skew(workdir: str, result, inputs: Inputs) -> list[str]:
    metrics, counters = result
    return check_run(metrics, counters, workdir, "ingest", inputs.files) + check_hot_family(
        workdir, inputs
    )


def check_hot_family(workdir: str, inputs: Inputs) -> list[str]:
    assign = pd.read_parquet(os.path.join(workdir, "assignment.parquet"))
    comps = assign[assign["id"].isin(inputs.hot_ids)]["component"]
    if len(comps) != len(inputs.hot_ids) or comps.nunique() != 1:
        return [
            f"hot family: {len(comps)}/{len(inputs.hot_ids)} files assigned, "
            f"{comps.nunique()} components"
        ]
    return []


def check_same_counts(got: dict, want: dict, what: str) -> list[str]:
    got = {k: got[k] for k in ("tp", "fp", "fn")}
    want = {k: want[k] for k in ("tp", "fp", "fn")}
    return [] if got == want else [f"{what}: tp/fp/fn {got} != {want}"]


def max_component(workdir: str) -> int:
    assign = pd.read_parquet(os.path.join(workdir, "assignment.parquet"))
    return int(assign.groupby("component").size().max())


def bytes_under(path: str) -> int:
    """Bytes of a file, or of every file below a directory."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for dirpath, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, n)) for n in names)
    return total


def reference_links(text: str, alias: pd.DataFrame, max_ngram: int = 3) -> set:
    """Independent pure-Python linker: dictionary lookup of every token
    n-gram, most frequent entity (ties to the smaller id), then
    longest-match-first claiming of non-overlapping spans."""
    import re

    best: dict[str, tuple[int, str]] = {}
    for a, e, f in zip(alias["alias"], alias["entity_id"], alias["freq"]):
        key = a.lower()
        if key not in best or (-f, e) < (-best[key][0], best[key][1]):
            best[key] = (f, e)
    toks = [(m.start(), m.end()) for m in re.finditer(r"\w+", text)]
    cands = []
    for i in range(len(toks)):
        for n in range(1, max_ngram + 1):
            if i + n <= len(toks):
                s, e = toks[i][0], toks[i + n - 1][1]
                hit = best.get(text[s:e].lower())
                if hit:
                    cands.append((s, e, hit[1]))
    taken, out = [], set()
    for s, e, ent in sorted(cands, key=lambda c: (c[0] - c[1], c[0])):
        if all(e <= ts or s >= te for ts, te in taken):
            taken.append((s, e))
            out.add((s, e, ent))
    return out


def check_link(workdir: str, result, inputs: Inputs) -> list[str]:
    """Linked mentions of a seeded sample of articles equal the reference
    linker's."""
    pred = pd.read_parquet(os.path.join(workdir, "predictions.parquet"))
    articles = inputs.tables["articles"]
    rng = random.Random(f"{inputs.seed}-erbench-linkcheck")
    sample = rng.sample(list(articles["id"]), min(LINK_SAMPLE, len(articles)))
    text = dict(zip(articles["id"], articles["text"]))
    bad = []
    for aid in sample:
        rows = pred[pred["article_id"] == aid]
        got = set(zip(rows["start"], rows["end"], rows["entity_id"]))
        if got != reference_links(text[aid], inputs.tables["alias_dict"]):
            bad.append(aid)
    return [f"linked mentions differ from the reference for articles {bad}"] if bad else []
