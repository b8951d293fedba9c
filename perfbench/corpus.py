"""Seeded generators for the app workloads: the video-record catalog,
its 10% delta, and the RAG question stream.

Everything is drawn from ``random.Random(seed)``; the same seed gives
the same catalog, delta and questions. The catalog has the shape
``app.extract`` consumes (one row per video, a raw ``transcript``
snippet array) and these properties:

- transcript words follow a Zipf law over a synthetic vocabulary, so a
  few topic words are common and most are rare;
- a share of videos repeat an earlier video's transcript exactly, so
  curate's exact dedup has work;
- a share of videos have a NULL transcript, which extract routes to the
  dead-letter skip list;
- a share of snippets carry the dirty markers the cleaners target
  (``[Music]``, ``>>``, curly quotes, zero-width and no-break spaces).

``expected_counts`` derives what the chain must report from the same
records with the pure-Python ``chunk_snippets``.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass

from kfai_pipeline_spark.operators.chunker import chunk_snippets
from kfai_pipeline_spark.plans.rag import ParsedQuery

SHOWS = ["Alpha Show", "Beta Cast", "Gamma Hour", "Delta Live", "Epsilon Daily"]
HOSTS = ["Greg Miller", "Tim Gettys", "Nick Scarpino", "Andy Cortez",
         "Janet Garcia", "Parris Lilly", "Mike Howard", "Fran Mirabella III"]
YEARS = [2016, 2018, 2020, 2022, 2024]
DIRTY = ["[Music]", ">> ", "[ __ ]", "curly ‘quotes’ “double”",
         "zero​width\xa0space"]
VOCAB_SIZE = 3000
DUP_SHARE = 0.05
NULL_SHARE = 0.03
DIRTY_SHARE = 0.05
SHAPES = ("two_topics", "show_years", "unfiltered")


def _vocab() -> list[str]:
    """Distinct consonant-vowel words; some contain others, which only
    widens an ILIKE topic match."""
    cons, vows = "bdfgklmnprstvz", "aeiou"
    words = []
    for i in range(VOCAB_SIZE):
        w, j = "", i + 7
        while j:
            w += cons[j % len(cons)] + vows[(j // len(cons)) % len(vows)]
            j //= len(cons) * len(vows)
        words.append(w)
    return words


class _Zipf:
    def __init__(self, words: list[str], s: float = 1.1):
        self.words = words
        self.weights = [1.0 / (r + 1) ** s for r in range(len(words))]

    def sample(self, rng: random.Random, n: int) -> list[str]:
        return rng.choices(self.words, weights=self.weights, k=n)


def _published_at(rng: random.Random) -> int:
    day = dt.datetime(rng.choice(YEARS), rng.randint(1, 12), rng.randint(1, 28),
                      tzinfo=dt.timezone.utc)
    return int(day.timestamp())


def make_videos(seed: int, n: int, first_id: int = 0) -> list[dict]:
    """``n`` catalog rows with ids ``first_id .. first_id + n - 1``."""
    rng = random.Random(f"videos:{seed}:{first_id}")
    zipf = _Zipf(_vocab())
    rows: list[dict] = []
    for i in range(first_id, first_id + n):
        if rows and rng.random() < DUP_SHARE:
            src = rng.choice(rows)
            snippets = src["transcript"] and [dict(s) for s in src["transcript"]]
        else:
            snippets, t = [], 0.0
            for _ in range(rng.randint(8, 40)):
                text = " ".join(zipf.sample(rng, rng.randint(3, 14)))
                if rng.random() < DIRTY_SHARE:
                    text = f"{rng.choice(DIRTY)} {text}"
                snippets.append({"text": text, "start": round(t, 2), "duration": 4.0})
                t += rng.uniform(2.0, 8.0)
        if rng.random() < NULL_SHARE:
            snippets = None
        topic = " ".join(zipf.sample(rng, 2))
        rows.append({
            "id": i,
            "video_id": f"vid{i:08d}",
            "show_name": rng.choice(SHOWS),
            "hosts": rng.sample(HOSTS, rng.randint(1, 3)),
            "title": f"Episode {i}: {topic}",
            "description": f"Notes for episode {i}",
            "published_at": _published_at(rng),
            "duration": int(snippets[-1]["start"] + 4) if snippets else 0,
            "transcript": snippets,
        })
    return rows


def expected_counts(rows: list[dict]) -> dict[str, int]:
    """What extract and load must report for ``rows`` over a workspace
    that holds none of them yet."""
    return {
        "new_videos": sum(r["transcript"] is not None for r in rows),
        "chunks_added": sum(
            len(chunk_snippets(r["transcript"])) for r in rows if r["transcript"]
        ),
    }


@dataclass(frozen=True)
class Question:
    text: str
    parsed: ParsedQuery


def make_questions(seed: int, videos: list[dict], n: int) -> list[Question]:
    """``n`` questions; each one's filters are taken from a video that has
    chunks in the store, so both retrieval paths have something to return.

    Question ``i`` has shape ``SHAPES[i % len(SHAPES)]``: two topics
    (topic filter), show + year range (metadata filter), or unfiltered.
    Host filters are left out: on the app's
    store ``hosts`` is an array, and the compiled ``LIKE`` on it fails
    analysis (README.md in this directory)."""
    rng = random.Random(f"questions:{seed}")
    zipf = _Zipf(_vocab()[:200])
    pool = [v for v in videos if v["transcript"] and chunk_snippets(v["transcript"])]
    out = []
    for i in range(n):
        v = rng.choice(pool)
        year = dt.datetime.fromtimestamp(v["published_at"], dt.timezone.utc).year
        topic = v["title"].split(": ", 1)[1].split()[0]
        shape = SHAPES[i % len(SHAPES)]
        if shape == "two_topics":
            parsed = ParsedQuery(topics=[topic, *zipf.sample(rng, 1)])
        elif shape == "show_years":
            parsed = ParsedQuery(shows=[v["show_name"]],
                                 year_range=f"{year - 2}-{year}")
        else:
            parsed = ParsedQuery()
        words = " ".join(zipf.sample(rng, 4))
        out.append(Question(f"q{i}: what did they say about {words}?", parsed))
    return out
