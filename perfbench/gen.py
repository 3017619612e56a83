"""Seeded tweet generator for the benchmark's workloads.

Produces tweet-JSON lines in the shape the replay source and the dataset
parse read (``status`` fields: id, text, retweet, lang, user). Everything is
a pure function of the seed and the tweet index, so the same seed always
gives the same inputs. Ids stay numeric: the P1 parse drops ids that do not
cast to a positive long.

Input properties that move the program's work:

* text length (8-30 words) and how many words hit the NER lexicon, which
  sets entities per tweet and so the NEL and resolver fan-out;
* the user-location mix (null, blank, one char, ``city_N``): only
  ``city_N`` passes the location predicate and reaches the geo-decoder;
* a few retweets, which the parse drops when retweets are skipped.
"""

from __future__ import annotations

import json
import os
import random

# Words a tweet is drawn from. The first eight are the NER lexicon of the
# in-process services; the rest never match. Weights make lexicon hits
# common but uneven, so tweets carry 0 to ~8 entities.
LEXICON_WORDS = ("spark", "join", "window", "hash", "vector", "stream", "query", "batch")
PLAIN_WORDS = (
    "key agg row scan slow fast table value part merge a the line sort data "
    "column small customer order filter big group news today city match love "
    "game music night"
).split()
WORDS = LEXICON_WORDS + tuple(PLAIN_WORDS)
WEIGHTS = tuple([3] * len(LEXICON_WORDS) + [4] * len(PLAIN_WORDS))
LANGS = ("en", "es", "it", "zh")
RETWEET_EVERY = 23  # index % 23 == 0 -> retweet (dropped by the parse)
ID_BASE = 10**12


def tweet_id(seed: int, index: int) -> str:
    return str(ID_BASE + seed * 10**7 + index)


def tweet(seed: int, index: int) -> dict:
    """Tweet number ``index`` of the stream for ``seed``."""
    rng = random.Random(seed * 1_000_003 + index)
    words = rng.choices(WORDS, weights=WEIGHTS, k=rng.randrange(8, 31))
    kind = rng.randrange(5)
    location = (None, " ", "x")[kind] if kind < 3 else f"city_{rng.randrange(20)}"
    user = rng.randrange(5_000)
    return {
        "id": tweet_id(seed, index),
        "text": " ".join(words),
        "retweet": index % RETWEET_EVERY == 0,
        "lang": rng.choice(LANGS),
        "user": {
            "id": str(user * 7 + 11),
            "name": f"user_{user}",
            "screenName": f"sn_{user}",
            "location": location,
        },
    }


def is_analysed(index: int) -> bool:
    """Whether the NEEL analysis keeps tweet ``index`` (retweets skipped)."""
    return index % RETWEET_EVERY != 0


def lines(seed: int, start: int, stop: int) -> list[str]:
    return [json.dumps(tweet(seed, i)) for i in range(start, stop)]


def publish(directory: str, name: str, payload: list[str]) -> None:
    """Write lines as one file that appears atomically (temp + rename), so a
    file-stream reader never lists a half-written file."""
    tmp = os.path.join(directory, f".{name}.tmp")
    with open(tmp, "w") as fh:
        fh.write("\n".join(payload) + "\n")
    os.replace(tmp, os.path.join(directory, f"{name}.json"))


def write_dataset(directory: str, seed: int, n: int, files: int) -> None:
    """Stage ``n`` tweets as ``files`` JSON-lines files."""
    os.makedirs(directory, exist_ok=True)
    per = -(-n // files)
    for f in range(files):
        lo, hi = f * per, min(n, (f + 1) * per)
        if lo < hi:
            publish(directory, f"part-{f:05d}", lines(seed, lo, hi))
