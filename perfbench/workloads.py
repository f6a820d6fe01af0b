"""Seeded input generators and reference results for the workloads.

Pure Python, no Spark: the load process, the system process and the
result checker all import this module, and the same seed always yields
the same inputs. The system under test only ever sees the generated
events (through `Stream.emit`); the references below are computed from
the same inputs, never from the system's outputs.
"""

from __future__ import annotations

import random
import string

# ----------------------------------------------------------------- events_live
LIVE_KEYS = 200
# Few, larger files: Stream reads at most 64 files per micro-batch, and at
# 10 files/s a 6.4 s round left more than that for the next round, which
# then ran two micro-batches. At 5 files/s rounds stay far below the cap.
LIVE_EVENTS_PER_FILE = 100
LIVE_FILES_PER_S = 5  # 500 events/s
LIVE_POISON_RATE = 0.005
LIVE_MAX_RETRIES = 1
LIVE_WARMUP_FILES = 2


def live_key(i: int) -> str:
    return f"k{i:03d}"


def live_file(seed: int, idx: int, due: float) -> list[dict]:
    """File `idx` of the open-loop feed; every event carries its due time."""
    rng = random.Random(seed * 1_000_003 + idx)
    return [
        {
            "event_id": f"e{idx:06d}-{j:03d}",
            "key": live_key(rng.randrange(LIVE_KEYS)),
            "value": rng.randint(1, 1000),
            "poison": rng.random() < LIVE_POISON_RATE,
            "due": due,
        }
        for j in range(LIVE_EVENTS_PER_FILE)
    ]


def live_warmup_file(idx: int) -> list[dict]:
    """Warm-up files touch every key once, so every lookup key exists
    in the state table before the measured phase starts; one poison
    event per file takes the retry and DLQ paths through their first
    (cold) run during set-up."""
    return [
        {
            "event_id": f"w{idx:02d}-{k:03d}",
            "key": live_key(k),
            "value": 1,
            "poison": k == 0,
            "due": 0.0,
        }
        for k in range(LIVE_KEYS)
    ]


# --------------------------------------------------------------- corpus_dedupe
DOC_VOCAB = 20_000
DOCS_PER_FILE = 250
DOC_FILES_PER_TRIGGER = 4  # ~1,000 docs per micro-batch
DOC_NEAR_DUP_RATE = 0.3
DOC_MAX_CHAIN = 2  # a near-dup of a near-dup, at most
DOC_SOURCE_WINDOW = 3000  # near-dups copy one of the last N docs
DOC_WARMUP_FILES = 1
DOC_COMPACT_EVERY = 2
# The measured drain is a fixed number of micro-batches, taken from
# --seconds at this nominal pace, so every run and every commit adjudicate
# the same documents with the same compaction points. The count is even,
# so compaction rounds are a fixed share (DOC_COMPACT_EVERY = 2). A round
# of 1,000 documents took 6-8 s on a 4-core machine: --seconds 15 gives
# two rounds, one of which compacts.
DOC_NOMINAL_ROUND_S = 7.5


def corpus_rounds(seconds: float) -> int:
    return 2 * max(1, round(seconds / (2 * DOC_NOMINAL_ROUND_S)))


class CorpusFeed:
    """Synthetic web feed: random originals plus ~30% near-duplicates.

    A near-duplicate is a one-token edit of one of the last
    DOC_SOURCE_WINDOW documents, which may itself be a near-duplicate
    (chains of up to DOC_MAX_CHAIN edits, which cross micro-batches).
    With 80-120 words per document the word-3-shingle Jaccard of a
    chain member to its original stays above 0.85, well over the 0.8
    admission threshold; two originals share almost no shingles."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed * 104_729 + 3)
        letters = string.ascii_lowercase
        vocab = set()
        while len(vocab) < DOC_VOCAB:
            vocab.add("".join(self.rng.choice(letters) for _ in range(self.rng.randint(3, 9))))
        self.vocab = sorted(vocab)
        self.recent: list[tuple[list[str], int]] = []  # (tokens, chain depth)
        self.n = 0

    def next_file(self) -> list[dict]:
        rng, out = self.rng, []
        for _ in range(DOCS_PER_FILE):
            src = None
            if self.recent and rng.random() < DOC_NEAR_DUP_RATE:
                cand = self.recent[rng.randrange(len(self.recent))]
                if cand[1] < DOC_MAX_CHAIN:
                    src = cand
            if src is None:
                toks = [rng.choice(self.vocab) for _ in range(rng.randint(80, 120))]
                depth = 0
            else:
                toks = list(src[0])
                toks[rng.randrange(len(toks))] = rng.choice(self.vocab)
                depth = src[1] + 1
            out.append(
                {"doc_id": f"d{self.n:07d}", "text": " ".join(toks), "dup": depth > 0}
            )
            self.n += 1
            self.recent.append((toks, depth))
        del self.recent[:-DOC_SOURCE_WINDOW]
        return out
