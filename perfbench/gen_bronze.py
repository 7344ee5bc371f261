#!/usr/bin/env python3
"""Seeded synthetic bronze reviews for the warehouse_build workload.

Writes `<out>/bronze/part-00000.parquet` with the `graft.domain.Schemas.review`
columns and `<out>/truth.json` with the counts `Pipeline.run` must return on
it. The same seed and row count give the same bytes.

Shape, after the collector data the warehouse was built for:
  * 9 banks and a few thousand places; place popularity is Zipf-skewed, and
    every place belongs to exactly one (bank_name, branch_name), so the
    branch dimension never fans the fact table out;
  * about 5% of reviews are re-collected: same review_id and text, a later
    collected_at (the dedup keeps the earliest copy);
  * a few percent empty or too-short texts, null ratings, and places whose
    bank name is null on every row (imputed to 'Unknown');
  * French, Arabic and English words; the French and Arabic ones are the
    `graft.domain.Nlp` marker and sentiment lexicons, and word counts land in
    every `review_detail_level` bin (brief < 20 <= moderate < 50 <= detailed);
  * review times spread over 2020-2025.

Usage: gen_bronze.py --seed N --rows N --out DIR
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BANKS = ["Attijariwafa Bank", "Banque Populaire", "BMCE Bank", "CIH Bank",
         "BMCI", "Crédit Agricole du Maroc", "Société Générale Maroc",
         "Al Barid Bank", "CDM"]
CITIES = ["Casablanca", "Rabat", "Marrakech", "Fes", "Tanger", "Agadir",
          "Meknes", "Oujda", "Kenitra", "Tetouan"]
# Mirrors graft.domain.Nlp: frenchMarkers, arabicMarkers, positiveLexicon,
# negativeLexicon, plus a few English and neutral words.
FRENCH = ["le", "la", "les", "de", "du", "des", "et", "est", "un", "une",
          "dans", "pour", "avec", "sur", "ce", "cette", "tres", "bien",
          "service", "agence", "guichet", "compte", "carte", "accueil",
          "personnel", "frais", "commission", "attendre", "file"]
ARABIC = ["بنك", "خدمة", "جيد", "سيء", "ممتاز", "فرع", "موظف", "وقت"]
ENGLISH = ["the", "bank", "staff", "service", "queue", "waiting", "good",
           "bad", "branch", "fees", "card", "account", "time", "help"]
POSITIVE = ["bon", "bien", "excellent", "parfait", "rapide", "professionnel",
            "merci", "super", "agreable", "efficace"]
NEGATIVE = ["mauvais", "lent", "attente", "probleme", "nul", "horrible",
            "decevant", "long", "jamais", "pire"]
SHORT = ["ok", "bien", "top", "nul", "bof", "جيد", "good"]

START = 1577836800  # 2020-01-01T00:00:00Z
END = 1767225600    # 2026-01-01T00:00:00Z

SCHEMA = pa.schema([
    ("review_id", pa.string()), ("place_id", pa.string()),
    ("bank_name", pa.string()), ("branch_name", pa.string()),
    ("author_name", pa.string()), ("author_url", pa.string()),
    ("language", pa.string()), ("original_language", pa.string()),
    ("profile_photo_url", pa.string()), ("rating", pa.int32()),
    ("relative_time_description", pa.string()), ("text", pa.string()),
    ("time", pa.int64()), ("translated", pa.bool_()),
    ("collected_at", pa.timestamp("us", tz="UTC")),
])


def places(rng, n_places):
    """place_id -> (bank_name or None, branch_name); Zipf popularity."""
    bank = rng.integers(0, len(BANKS), n_places)
    city = rng.integers(0, len(CITIES), n_places)
    no_bank = rng.random(n_places) < 0.01
    rows = []
    for p in range(n_places):
        kind = "Siege" if p % 97 == 0 else "Agence"
        rows.append((f"place_{p:05d}",
                     None if no_bank[p] else BANKS[bank[p]],
                     f"{BANKS[bank[p]]} {kind} {CITIES[city[p]]} {p}"))
    weight = 1.0 / np.arange(1, n_places + 1) ** 1.1
    return rows, weight / weight.sum()


def texts(rng, n):
    """Review texts and their language tags."""
    lang = rng.choice(3, n, p=[0.6, 0.25, 0.15])
    bin_ = rng.choice(3, n, p=[0.6, 0.28, 0.12])
    lo, hi = np.array([3, 20, 50]), np.array([20, 50, 121])
    nwords = rng.integers(lo[bin_], hi[bin_])
    vocab = [FRENCH + POSITIVE + NEGATIVE, ARABIC + FRENCH[:6], ENGLISH + POSITIVE[:3]]
    kind = rng.random(n)
    # All words at once, each from its row's vocabulary (one flat list,
    # offset per language), joined per row by pyarrow: a Python loop over
    # words made generation most of warehouse_build's set-up.
    size = np.array([len(v) for v in vocab])
    offset = np.concatenate([[0], np.cumsum(size)[:-1]])
    word_lang = np.repeat(lang, nwords)
    word = offset[word_lang] + (rng.random(len(word_lang)) * size[word_lang]).astype(np.int64)
    words = pa.array(sum(vocab, [])).take(pa.array(word))
    starts = pa.array(np.concatenate([[0], np.cumsum(nwords)]), pa.int32())
    joined = pc.binary_join(pa.ListArray.from_arrays(starts, words), " ").to_pylist()
    out = []
    for i in range(n):
        if kind[i] < 0.02:
            out.append("" if i % 2 else "   ")
        elif kind[i] < 0.04:
            out.append(SHORT[i % len(SHORT)])
        else:
            out.append(f"  {joined[i]}  " if kind[i] > 0.97 else joined[i])
    return out, np.array(["fr", "ar", "en"])[lang]


def generate(seed, n_rows):
    """Returns (pyarrow Table, truth dict)."""
    rng = np.random.default_rng(seed)
    n_orig = int(round(n_rows / 1.05))
    n_dup = n_rows - n_orig
    n_places = max(50, min(3000, n_orig // 20))
    place_rows, weight = places(rng, n_places)
    place = rng.choice(n_places, n_orig, p=weight)
    time = rng.integers(START, END, n_orig)
    collected = time + rng.integers(3600, 90 * 86400, n_orig)
    rating = rng.choice(5, n_orig, p=[0.15, 0.1, 0.15, 0.25, 0.35]) + 1
    rating_null = rng.random(n_orig) < 0.02
    text, lang = texts(rng, n_orig)

    dup = np.sort(rng.choice(n_orig, n_dup, replace=False))
    src = np.concatenate([np.arange(n_orig), dup])
    dup_collected = collected[dup] + rng.integers(86400, 60 * 86400, n_dup)
    collected_all = np.concatenate([collected, dup_collected])

    pid = [place_rows[p][0] for p in place]
    author = [f"author_{i}" for i in range(n_orig)]
    review_id = [f"{pid[i]}_{time[i]}_{author[i]}" for i in range(n_orig)]
    cols = {
        "review_id": [review_id[i] for i in src],
        "place_id": [pid[i] for i in src],
        "bank_name": [place_rows[place[i]][1] for i in src],
        "branch_name": [place_rows[place[i]][2] for i in src],
        "author_name": [author[i] for i in src],
        "author_url": [None if i % 3 else f"https://maps.example/{author[i]}" for i in src],
        "language": [lang[i] for i in src],
        "original_language": [None] * n_rows,
        "profile_photo_url": [None] * n_rows,
        "rating": [None if rating_null[i] else int(rating[i]) for i in src],
        "relative_time_description": ["il y a un an"] * n_rows,
        "text": [text[i] for i in src],
        "time": time[src],
        "translated": [False] * n_rows,
        "collected_at": collected_all * 1_000_000,
    }
    table = pa.table(cols, schema=SCHEMA)

    # Ground truth for Pipeline.Result: dedup keeps the earliest copy (the
    # original); staging keeps cleaned texts of 10..5000 characters.
    cleaned = pc.utf8_length(pc.replace_substring_regex(
        pc.utf8_trim(pa.array(text, pa.string()), " "), r"\s+", " ")).to_numpy()
    kept = np.flatnonzero((cleaned >= 10) & (cleaned <= 5000))
    truth = {
        "bronzeCount": n_rows,
        "stagedCount": len(kept),
        "factCount": len(kept),
        "bankCount": len({place_rows[place[i]][1] or "Unknown" for i in kept}),
        "branchCount": len({place[i] for i in kept}),
    }
    return table, truth


def write(seed, n_rows, out):
    table, truth = generate(seed, n_rows)
    os.makedirs(f"{out}/bronze", exist_ok=True)
    pq.write_table(table, f"{out}/bronze/part-00000.parquet",
                   compression="snappy", row_group_size=1 << 20)
    with open(f"{out}/truth.json", "w") as f:
        json.dump(truth, f, sort_keys=True)
    return truth


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(write(a.seed, a.rows, a.out)))
