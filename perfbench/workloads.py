"""The workloads: their sizes, their generated inputs and manifests.

`prepare(name, seed, seconds, trace, work)` writes a workload's inputs
under `work/in` and returns (manifest_path, share_reports). The manifest
is what the JVM harness reads; the share reports say whether the
generated inputs hold the properties the workload is defined by.
"""

import datetime as dt
import json
import os

import gen

# Sizes. Input pools hold more operations than a run gets through on a
# 4-core host; the harness stops early if a pool runs out. Set-up warms
# each workload's code paths before the window opens (the JVM's first
# pass through a path costs two to three warm ones).
MONTH = "2025-03"
MONTH_DAYS = 31
DAY_DOCS = 300                 # one day's scrape, and a day of the prebuilt month lake
RESCRAPE_SHARE = 0.20          # of a day: yesterday's ids, scraped again
LATE_SHARE = 0.11              # of a day: ids from every day of the prebuilt month (33 >= 31)
DAY_POOL = 12

CORPUS_DOCS = 2_000
EXACT_SHARE = 0.05
NEAR_SHARE = 0.12
NEAR_ABOVE_HALF = 0.70         # planted near duplicates with Jaccard >= 0.5

STREAM_FILE_DOCS = 250
STREAM_FILES_PER_ROUND = 2     # one micro-batch per round
STREAM_WARMUP_ROUNDS = 1       # micro-batch 0 seeds the stores; the timed ones compact them
STREAM_COMPACT_EVERY = 1       # every batch after the first compacts the stores
STREAM_POOL = 30

WORKLOADS = ("lake_daily", "curate_stream")


def _now(day, hour=23, minute=30):
    return f"{day.isoformat()} {hour:02d}:{minute:02d}:00"


def lake_daily(seed, work):
    inp = os.path.join(work, "in")
    entries = gen.location_dictionary(seed)
    dict_path = os.path.join(inp, "indonesia_locations.json")
    gen.write_dictionary(entries, dict_path)
    fac = gen.TweetFactory(seed, entries)
    first = dt.date.fromisoformat(MONTH + "-01")
    days = [first + dt.timedelta(days=d) for d in range(MONTH_DAYS)]
    month_dir = os.path.join(inp, "month")
    os.makedirs(month_dir)
    month = []
    for d in days:
        recs = [fac.new(d) for _ in range(DAY_DOCS)]
        gen.write_jsonl(recs, os.path.join(month_dir, f"tweets_{d.isoformat()}.json"))
        month += recs

    latest = {r["_id"]: r for r in month}
    by_day = {}
    for r in month:
        by_day.setdefault(r["created_at"][:10], []).append(r["_id"])
    yesterday = [r for r in month if r["created_at"][:10] >= days[-5].isoformat()]
    n_again, n_late = int(DAY_DOCS * RESCRAPE_SHARE), int(DAY_DOCS * LATE_SHARE)
    ops, touched = [], []
    for k in range(DAY_POOL):
        scrape_day = days[-1] + dt.timedelta(days=k + 1)
        # an id appears at most once per day: two copies with one scrape
        # time would leave the newest metrics undefined
        again = [fac.rescrape(latest[r["_id"]]) for r in fac.rng.sample(yesterday, n_again)]
        taken = {r["_id"] for r in again}
        # late re-scrapes cycle through the month's days, so each day's
        # merge rewrites every partition of the month
        late = []
        for j in range(n_late):
            ids = by_day[days[j % MONTH_DAYS].isoformat()]
            i = fac.rng.choice(ids)
            while i in taken:
                i = fac.rng.choice(ids)
            taken.add(i)
            late.append(fac.rescrape(latest[i]))
        fresh = [fac.new(scrape_day - dt.timedelta(days=fac.rng.randrange(3)))
                 for _ in range(DAY_DOCS - n_again - n_late)]
        recs = again + late + fresh
        fac.rng.shuffle(recs)
        for r in recs:
            latest[r["_id"]] = r
        yesterday = fresh
        touched.append(len({r["created_at"][:10] for r in late if r["created_at"][:7] == MONTH}))
        path = os.path.join(inp, f"scrape_{scrape_day.isoformat()}.json")
        gen.write_jsonl(recs, path)
        ops.append({"path": path, "now": _now(scrape_day), "docs": len(recs)})
    new_docs = len(month) + DAY_POOL * (DAY_DOCS - n_again - n_late)
    manifest = {
        "dict": dict_path, "month": MONTH,
        "prebuild": {"path": month_dir, "now": _now(first, 0, 0), "docs": len(month)},
        "ops": ops,
    }
    reports = [
        gen.share_report("rescrape_share", (n_again + n_late) / DAY_DOCS,
                         RESCRAPE_SHARE + LATE_SHARE, 0.001),
        gen.share_report("located_share", len(fac.planted_located) / new_docs, fac.located, 0.02),
        gen.share_report("month_days_touched_by_late_rescrapes",
                         min(touched) / MONTH_DAYS, 1.0, 0.001),
    ]
    return manifest, reports


def curate_stream(seed, work):
    inp = os.path.join(work, "in", "staging")
    os.makedirs(inp, exist_ok=True)
    entries = gen.location_dictionary(seed)
    dict_path = os.path.join(work, "in", "indonesia_locations.json")
    gen.write_dictionary(entries, dict_path)
    per_round = STREAM_FILE_DOCS * STREAM_FILES_PER_ROUND
    rows = gen.stream_docs(seed, per_round * STREAM_POOL)
    rounds = []
    for r in range(STREAM_POOL):
        files = []
        for f in range(STREAM_FILES_PER_ROUND):
            lo = (r * STREAM_FILES_PER_ROUND + f) * STREAM_FILE_DOCS
            path = os.path.join(inp, f"part-{r:03d}-{f}.json")
            gen.write_jsonl(rows[lo:lo + STREAM_FILE_DOCS], path)
            files.append(path)
        rounds.append({"files": files, "docs": per_round})
    short = sum(1 for x in rows if len(x["text"].split()) < 5) / len(rows)

    # the corpus for the batch curation queries of traced runs
    corpus_dir = os.path.join(work, "in", "corpus")
    os.makedirs(corpus_dir)
    docs, planted = gen.corpus(seed, CORPUS_DOCS, EXACT_SHARE, NEAR_SHARE)
    gen.write_corpus_parquet(docs, os.path.join(corpus_dir, "documents.parquet"))
    text = {d["doc_id"]: d["text"] for d in docs}
    found = [[a, b] for _, a, b in planted if gen.jaccard(text[a], text[b]) >= 0.5]
    exact = sum(1 for kind, _, _ in planted if kind == "exact")
    near = len(planted) - exact
    reports = [gen.share_report("below_gate_share", short, 0.05, 0.015),
               gen.share_report("dup_share", exact / len(docs), EXACT_SHARE, 0.01),
               gen.share_report("near_dup_share", near / len(docs), NEAR_SHARE, 0.015),
               gen.share_report("near_dup_above_half_share", (len(found) - exact) / near,
                                NEAR_ABOVE_HALF, 0.1)]
    return {"dict": dict_path, "ops": rounds, "files_per_trigger": STREAM_FILES_PER_ROUND,
            "warmup_rounds": STREAM_WARMUP_ROUNDS, "compact_every": STREAM_COMPACT_EVERY,
            "corpus_dir": corpus_dir, "planted": found}, reports


def prepare(name, seed, seconds, trace, work):
    os.makedirs(os.path.join(work, "in"), exist_ok=True)
    manifest, reports = globals()[name](seed, work)
    manifest.update({"workload": name, "seed": seed, "seconds": seconds, "trace": trace,
                     "work": work, "result": os.path.join(work, "result.json")})
    path = os.path.join(work, "manifest.json")
    with open(path, "w") as f:
        json.dump(manifest, f)
    return path, reports
