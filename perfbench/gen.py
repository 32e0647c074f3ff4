"""Seeded input generator for the pipeline benchmark.

Every function takes a `random.Random` built from the run's seed, so one
seed always gives byte-identical files. Nothing here imports the program:
the inputs are plain JSONL / Parquet / JSON files in the shapes the
program reads.

Shapes:
  - raw scrape records (TweetSchema.rawScrape), one JSON object per line;
  - a 38-province x 12-city location dictionary (the shape of the
    reference's config/indonesia_locations.json, with synthetic names);
  - a `documents.parquet` corpus with planted exact and near duplicates;
  - JSONL landing files of (doc_id, text, lang) for the streaming job.
"""

import json
import random

N_PROVINCES = 38
CITIES_PER_PROVINCE = 12

# MBG ("Makan Bergizi Gratis", the free school-meal programme) talk.
TOPIC_WORDS = (
    "program makan bergizi gratis mbg anak sekolah siswa guru menu hari ini "
    "pemerintah presiden gizi dapur umum orang tua nasi ayam telur susu sayur "
    "buah anggaran triliun daerah kabupaten kota desa distribusi porsi kantin "
    "pagi siang minggu bulan tahun kebijakan rakyat kualitas harga beras ikan "
    "tempe tahu kacang jagung minum air bersih piring sendok petugas relawan "
    "laporan berita video foto warga ibu bapak sekolahnya kemarin besok sudah "
    "belum masih akan bisa harus tidak juga lagi sangat kurang lebih semua "
    "banyak sedikit mulai selesai jalan terus kenapa gimana kapan dimana").split()
POSITIVE = ["bagus", "baik", "mantap", "enak", "sehat", "senang", "sukses", "lancar",
            "membantu"]
NEGATIVE = ["buruk", "jelek", "gagal", "korupsi", "basi", "mahal", "kecewa", "lambat",
            "keracunan", "telat"]
HASHTAGS = ["#MakanBergiziGratis", "#MBG", "#GiziAnak", "#SekolahSehat"]
FIRST = ["budi", "siti", "agus", "dewi", "rina", "joko", "putri", "andi", "wati", "eko",
         "yuni", "hadi", "lina", "tono", "sari", "bayu"]
LAST = ["santoso", "wijaya", "lestari", "pratama", "saputra", "hidayat", "nugroho",
        "kusuma", "rahayu", "setiawan"]
SYLLABLES = ["ba", "ka", "ma", "ra", "sa", "ta", "la", "na", "pa", "da", "ga", "ja",
             "bo", "ko", "mo", "ro", "so", "to", "lo", "no", "pu", "du", "gu", "ju",
             "bi", "ki", "mi", "ri", "si", "ti", "li", "ni", "we", "ye", "ze", "xu"]
LANGS = ["id", "id", "id", "id", "en", "jv"]


def rng_for(seed, stream):
    """An independent generator per input stream, derived from the seed."""
    return random.Random(f"{seed}:{stream}")


def _synthetic_words(rng, count, taken, syllables=(3, 4)):
    out = []
    while len(out) < count:
        w = "".join(rng.choice(SYLLABLES) for _ in range(rng.choice(syllables)))
        if w not in taken:
            taken.add(w)
            out.append(w)
    return out


def filler_vocabulary(seed, size):
    """Topic words plus synthetic filler, never colliding with place names."""
    taken = set(TOPIC_WORDS) | set(POSITIVE) | set(NEGATIVE)
    return list(TOPIC_WORDS) + _synthetic_words(rng_for(seed, "vocab"), size, taken,
                                                syllables=(2, 5))


def location_dictionary(seed):
    """38 provinces x 12 cities, single-word synthetic names.

    Names are five or six syllables long and the filler vocabulary is two
    to five, so no filler word can be read as a place.
    """
    rng = rng_for(seed, "dict")
    taken = set()
    provinces = [w.capitalize() for w in _synthetic_words(rng, N_PROVINCES, taken, (6,))]
    entries = []
    for p in provinces:
        cities = [w.capitalize() for w in _synthetic_words(rng, CITIES_PER_PROVINCE, taken, (5, 6))]
        entries.append((p, cities))
    return entries


def write_dictionary(entries, path):
    with open(path, "w", encoding="utf-8") as f:
        json.dump({p: cs for p, cs in entries}, f, ensure_ascii=False)


class TweetFactory:
    """Makes raw scrape records with planted place names and lexicon words.

    `located` is the share of tweets that name a city (most) or only a
    province (the rest); the ids of located tweets are remembered so the
    generator can report the planted share.
    """

    def __init__(self, seed, entries, located=0.65, province_only=0.08):
        self.rng = rng_for(seed, "tweets")
        self.vocab = filler_vocabulary(seed, 400)
        self.cities = [c for _, cs in entries for c in cs]
        self.provinces = [p for p, _ in entries]
        self.located = located
        self.province_only = province_only
        self.next_id = 1_800_000_000_000_000_000 + self.rng.randrange(10**9)
        self.planted_located = set()

    def text(self, place=None):
        rng = self.rng
        words = [rng.choice(self.vocab) for _ in range(rng.randint(10, 28))]
        for _ in range(rng.randint(0, 2)):
            words.insert(rng.randrange(len(words) + 1), rng.choice(POSITIVE))
        for _ in range(rng.randint(0, 2)):
            words.insert(rng.randrange(len(words) + 1), rng.choice(NEGATIVE))
        if place:
            words.insert(rng.randrange(len(words) + 1), place)
        if rng.random() < 0.5:
            words.insert(0, "@" + rng.choice(FIRST) + str(rng.randrange(100)))
        if rng.random() < 0.4:
            words.append(rng.choice(HASHTAGS))
        if rng.random() < 0.3:
            words.append("https://t.co/" + "".join(rng.choice("abcdefgh123") for _ in range(8)))
        return " ".join(words)

    def new(self, day):
        """A fresh tweet created on `day` (a datetime.date)."""
        rng = self.rng
        tid = str(self.next_id)
        self.next_id += rng.randint(1, 5000)
        place = None
        r = rng.random()
        if r < self.located - self.province_only:
            place = rng.choice(self.cities)
        elif r < self.located:
            place = rng.choice(self.provinces)
        if place:
            self.planted_located.add(tid)
        first, last = rng.choice(FIRST), rng.choice(LAST)
        handle = f"{first}{rng.randrange(1000)}"
        m = rng.randrange(1440)
        return {
            "_id": tid,
            "text": self.text(place),
            "author_name": f"{first.capitalize()} {last.capitalize()}",
            "author_handle": "@" + handle,
            "created_at": f"{day.isoformat()}T{m // 60:02d}:{m % 60:02d}:{rng.randrange(60):02d}Z",
            "location": rng.choice(["Indonesia", "Bumi", None, None]),
            "tweet_url": f"https://x.com/{handle}/status/{tid}",
            "metrics": {"reply_count": rng.randrange(20), "retweet_count": rng.randrange(50),
                        "like_count": rng.randrange(200)},
        }

    def rescrape(self, rec):
        """The same tweet scraped again later: identical content, higher counts."""
        rng = self.rng
        m = rec["metrics"]
        out = dict(rec)
        out["metrics"] = {"reply_count": m["reply_count"] + rng.randint(0, 5),
                          "retweet_count": m["retweet_count"] + rng.randint(0, 10),
                          "like_count": m["like_count"] + rng.randint(1, 50)}
        return out


def write_jsonl(records, path):
    with open(path, "w", encoding="utf-8") as f:
        for r in records:
            f.write(json.dumps(r, ensure_ascii=False, separators=(",", ":")))
            f.write("\n")


# ---------------------------------------------------------------- corpus

def _mutate(rng, tokens, vocab, rate):
    out = list(tokens)
    for _ in range(max(1, int(len(out) * rate))):
        op = rng.random()
        i = rng.randrange(len(out))
        if op < 0.5:
            out[i] = rng.choice(vocab)
        elif op < 0.75:
            out.insert(i, rng.choice(vocab))
        elif len(out) > 4:
            del out[i]
    return out


def shingles(text, n=3):
    """Distinct whitespace-token n-grams: the program's shingle definition."""
    t = text.split()
    return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    if not sa or not sb:
        return 0.0
    c = len(sa & sb)
    return c / (len(sa) + len(sb) - c)


def corpus(seed, n_docs, exact_share=0.05, near_share=0.12):
    """Documents with planted duplicates.

    `exact_share` of the rows are verbatim copies of an earlier row;
    `near_share` are edits (3-21 % of tokens) of an earlier row, which
    leaves about seven in ten planted pairs at Jaccard >= 0.5 over word
    3-grams.
    Returns (rows, planted) where planted lists (kind, id_a, id_b).
    """
    rng = rng_for(seed, "corpus")
    vocab = filler_vocabulary(seed, 3000)
    rows, planted = [], []
    originals = []
    # exact counts of each kind in a seeded order; the first rows are
    # originals, so every copy has a source
    n_exact, n_near = round(n_docs * exact_share), round(n_docs * near_share)
    head = min(10, n_docs - n_exact - n_near)
    n_orig = n_docs - n_exact - n_near - head
    kinds = ["exact"] * n_exact + ["near"] * n_near + ["orig"] * n_orig
    rng.shuffle(kinds)
    kinds = ["orig"] * head + kinds
    for doc_id in range(n_docs):
        kind = kinds[doc_id]
        if kind == "exact":
            src = rng.choice(originals)
            text = rows[src]["text"]
            planted.append(("exact", src, doc_id))
        elif kind == "near":
            src = rng.choice(originals)
            # edit rates spread evenly over the range (a golden-ratio
            # sequence), so the share above Jaccard 0.5 holds on small corpora
            rate = 0.03 + 0.18 * ((len(planted) * 0.6180339887) % 1.0)
            text = " ".join(_mutate(rng, rows[src]["text"].split(), vocab, rate))
            planted.append(("near", src, doc_id))
        else:
            text = " ".join(rng.choice(vocab) for _ in range(rng.randint(25, 70)))
            originals.append(doc_id)
        rows.append({"doc_id": doc_id, "text": text, "lang": rng.choice(LANGS),
                     "source": f"src{doc_id % 7}", "n_chars": len(text)})
    return rows, planted


def write_corpus_parquet(rows, path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    table = pa.table({
        "doc_id": pa.array([r["doc_id"] for r in rows], pa.int64()),
        "text": pa.array([r["text"] for r in rows], pa.string()),
        "lang": pa.array([r["lang"] for r in rows], pa.string()),
        "source": pa.array([r["source"] for r in rows], pa.string()),
        "n_chars": pa.array([r["n_chars"] for r in rows], pa.int64()),
    })
    pq.write_table(table, path, compression="snappy")


# ------------------------------------------------------------- streaming

def stream_docs(seed, n_docs, dup_share=0.1, boiler_share=0.3):
    """(doc_id, text, lang) rows for the streaming landing directory.

    `dup_share` re-posts an earlier text (what the LSH store suppresses);
    `boiler_share` appends a shared boilerplate line (what the segment
    store suppresses). Some rows are too short for the quality gate.
    """
    rng = rng_for(seed, "stream")
    fac = TweetFactory(seed, location_dictionary(seed))
    boiler = ["Baca selengkapnya di kanal berita resmi pemerintah daerah hari ini.",
              "Ikuti terus perkembangan program makan bergizi gratis di akun kami."]
    rows = []
    for doc_id in range(n_docs):
        r = rng.random()
        if rows and r < dup_share:
            text = rng.choice(rows)["text"]
        elif r < dup_share + 0.05:
            text = " ".join(rng.choice(fac.vocab) for _ in range(rng.randint(1, 3)))
        else:
            text = fac.text(rng.choice(fac.cities) if rng.random() < 0.6 else None)
            if rng.random() < boiler_share:
                text += "\n" + rng.choice(boiler)
        rows.append({"doc_id": doc_id, "text": text, "lang": rng.choice(LANGS)})
    return rows


# ------------------------------------------------------------- reporting

def share_report(name, measured, target, tol):
    ok = abs(measured - target) <= tol
    return {"name": name, "measured": round(measured, 4), "target": target,
            "tolerance": tol, "ok": ok}
