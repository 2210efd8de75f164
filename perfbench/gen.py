"""Seeded input generators for the benchmark workloads.

Every generator takes the workload seed and an output directory, writes its
files there and returns a manifest of what it planted, so the correctness
gates can compare the program's outputs with the generator's expectations.
The same seed always yields byte-identical files.  Generation runs in the
calling process, single-threaded, before any timing starts.

The shares of planted defects are module constants; ``BENCHMARK.json`` and
``perfbench/README.md`` quote them.
"""

from __future__ import annotations

import datetime as dt
import random
import uuid
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- etl_hourly ---------------------------------------------------------------

#: First landing hour: the bookkeeping cold-start watermark
#: (``pipeline.bookkeeping.DEFAULT_START_HOUR``), so the watermark picks
#: hour 0 of a fresh lake without ``fetch_hour``.
ETL_START = dt.datetime(2022, 11, 24, 10, 0, 0)
ETL_FILES_PER_HOUR = 4
ETL_VEHICLE_SHARE = 0.90  # the rest are operating_period events
ETL_FLEET = 3000  # distinct vehicle ids
ETL_PERIODS = 200  # distinct operating_period ids
ETL_DUP_SHARE = 0.02  # exact duplicate lines
ETL_BAD_SHARE = 0.01  # blank or malformed lines (half each)
ETL_LATE_SHARE = 0.01  # lines stamped in the previous hour
#: Valid events of hour 0, a production-size hour that fills the
#: warehouse before the measured hours (4,000 events each) merge into it.
ETL_FIRST_HOUR_EVENTS = 50_000


@dataclass
class EtlHour:
    """One landing hour and what the warehouse should gain from it."""

    start: dt.datetime
    glob: str
    lines: int  # every line in the hour's files, blank and malformed too
    rows_staged: int  # valid lines stamped inside the hour, duplicates too
    vehicle_keys: set[tuple[str, int]]  # (vehicle id, `at` epoch ms)
    period_keys: set[tuple[str, int]]
    vehicles: set[str]


def _iso_ms(t: dt.datetime) -> str:
    return f"{t:%Y-%m-%dT%H:%M:%S}.{t.microsecond // 1000:03d}Z"


def _epoch_ms(t: dt.datetime) -> int:
    return int((t - dt.datetime(1970, 1, 1)).total_seconds() * 1000)


_VEHICLE = ('{"event":"%s","on":"vehicle","at":"%s%02d:%02d.%03dZ","organization_id":"%s",'
            '"data":{"id":"%s","location":{"lat":52.%06d,"lng":13.%06d,"at":"%s%02d:%02d.%03dZ"}}}')
_PERIOD = ('{"event":"%s","on":"operating_period","at":"%s%02d:%02d.%03dZ",'
           '"organization_id":"%s","data":{"id":"%s","start":"%s","finish":"%s"}}')
_VEHICLE_EVENTS = ["update", "update", "update", "register", "deregister"]
_PERIOD_EVENTS = ["create", "update"]


def _mss(off_ms: int) -> tuple[int, int, int]:
    """(minute, second, millisecond) of an offset into the hour."""
    sec, ms = divmod(off_ms, 1000)
    return sec // 60, sec % 60, ms


def gen_etl_hours(
    seed: int, out_dir: Path, events: list[int]
) -> list[EtlHour]:
    """Write consecutive landing hours of door2door JSONL, hour ``h`` with
    ``events[h]`` valid in-hour events before duplication; duplicates,
    blank/malformed and previous-hour lines are added on top at the
    module's shares and shuffled across the hour's files.  Draws are
    vectorized (numpy) so an hour of 10^5-10^6 events takes
    seconds.
    """
    rng = np.random.default_rng(seed)
    out_dir.mkdir(parents=True, exist_ok=True)
    fleet = [str(uuid.UUID(bytes=rng.bytes(16), version=4)) for _ in range(ETL_FLEET)]
    periods = [f"op_{i}" for i in range(ETL_PERIODS)]
    orgs = [f"org-{i:02d}" for i in range(20)]
    result = []
    for h, n_events in enumerate(events):
        start = ETL_START + dt.timedelta(hours=h)
        prefix = f"{start:%Y-%m-%dT%H}:"
        prev_prefix = f"{start - dt.timedelta(hours=1):%Y-%m-%dT%H}:"
        start_ms = _epoch_ms(start)
        p_start = _iso_ms(start - dt.timedelta(hours=2))
        p_finish = _iso_ms(start + dt.timedelta(hours=10))
        # Draw 10% spare candidates, keep the first occurrence of each
        # (entity, id, `at`) key, then the first ``n_events`` of those.
        m = n_events + n_events // 10 + 16
        off = rng.integers(0, 3_600_000, m)
        is_vehicle = rng.random(m) < ETL_VEHICLE_SHARE
        ident = np.where(is_vehicle, rng.integers(0, ETL_FLEET, m),
                         ETL_FLEET + rng.integers(0, ETL_PERIODS, m))
        _, first = np.unique(ident * 3_600_000 + off, return_index=True)
        keep = np.sort(first)[:n_events]
        if len(keep) < n_events:
            raise ValueError(f"hour {h}: {n_events} events do not fit the key space")
        org = rng.integers(0, len(orgs), m)[keep].tolist()
        kind = rng.integers(0, len(_VEHICLE_EVENTS), m)[keep].tolist()
        lat = rng.integers(300_000, 700_000, m)[keep].tolist()  # 52.3-52.7
        lng = rng.integers(100_000, 600_000, m)[keep].tolist()  # 13.1-13.6
        loc_off = np.maximum(off - rng.integers(0, 5000, m), 0)[keep]
        off, ident = off[keep], ident[keep]
        at = zip(*(a.tolist() for a in (off // 60_000, off // 1000 % 60, off % 1000)))
        loc_at = zip(*(a.tolist() for a in (loc_off // 60_000, loc_off // 1000 % 60,
                                            loc_off % 1000)))
        valid: list[str] = []
        vkeys: set[tuple[str, int]] = set()
        pkeys: set[tuple[str, int]] = set()
        for i, (o, x, t, lt) in enumerate(zip(off.tolist(), ident.tolist(), at, loc_at)):
            if x < ETL_FLEET:
                vid = fleet[x]
                vkeys.add((vid, start_ms + o))
                valid.append(_VEHICLE % (
                    _VEHICLE_EVENTS[kind[i]], prefix, *t, orgs[org[i]], vid,
                    lat[i], lng[i], prefix, *lt))
            else:
                pid = periods[x - ETL_FLEET]
                pkeys.add((pid, start_ms + o))
                valid.append(_PERIOD % (_PERIOD_EVENTS[kind[i] % 2], prefix, *t,
                                        orgs[org[i]], pid, p_start, p_finish))
        n_dup = round(n_events * ETL_DUP_SHARE)
        dups = [valid[i] for i in rng.integers(0, len(valid), n_dup).tolist()]
        late = []
        for _ in range(round(n_events * ETL_LATE_SHARE)):
            t = _mss(int(rng.integers(0, 3_600_000)))
            late.append(_VEHICLE % ("update", prev_prefix, *t,
                                    orgs[int(rng.integers(len(orgs)))],
                                    fleet[int(rng.integers(ETL_FLEET))],
                                    500_000, 400_000, prev_prefix, *t))
        n_bad = round(n_events * ETL_BAD_SHARE)
        bad = [
            "" if i % 2 == 0 else (lambda s: s[: len(s) // 2])(valid[int(rng.integers(len(valid)))])
            for i in range(n_bad)
        ]
        lines = valid + dups + late + bad
        lines = [lines[i] for i in rng.permutation(len(lines)).tolist()]
        tag = f"{start:%Y%m%d%H}"
        per = -(-len(lines) // ETL_FILES_PER_HOUR)
        for k in range(ETL_FILES_PER_HOUR):
            chunk = lines[k * per:(k + 1) * per]
            (out_dir / f"{tag}_{k}.jsonl").write_text("\n".join(chunk) + "\n")
        result.append(EtlHour(
            start=start, glob=str(out_dir / f"{tag}_*.jsonl"), lines=len(lines),
            rows_staged=len(valid) + len(dups), vehicle_keys=vkeys,
            period_keys=pkeys, vehicles={v for v, _ in vkeys},
        ))
    return result


# -- curation_dedup -----------------------------------------------------------

CUR_EXACT_SHARE = 0.10  # docs that are verbatim copies of a base doc
CUR_NEAR_SHARE = 0.10  # docs that are k-word edits of a base doc
CUR_NEAR_EDITS = 2  # k: words substituted in a near-duplicate
CUR_OTHER_LANG_SHARE = 0.05  # German-stopword docs (language filter drops)
CUR_SHORT_SHARE = 0.05  # English docs under the 30-word quality floor

_EN_STOP = ["the", "a", "and", "of", "to", "in", "is", "that", "for", "with"]
_DE_STOP = ["der", "die", "das", "und", "ist", "von", "mit", "ein", "nicht", "auf"]
# Stopwords of the other languages ``operators.text.predict_language``
# scores; kept out of the vocabulary so only the planted stopwords vote.
_OTHER_STOP = ["el", "la", "de", "que", "y", "en", "un", "por", "con", "para",
               "le", "et", "est", "pour", "dans", "sur", "shi", "bu", "wo",
               "you", "zai", "ta", "men", "zhe"]
_SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "pe", "dra",
              "gor", "lin", "mas", "tel", "bri", "cun", "fos", "hal", "jem", "qua"]


@dataclass
class Corpus:
    """The planted structure of a generated corpus (indexes are ``doc_id``s)."""

    n_docs: int
    texts: list[str]
    kinds: list[str]  # en | de (other language) | short (under the word floor)
    exact_families: list[list[int]] = field(default_factory=list)
    near_families: list[list[int]] = field(default_factory=list)


def gen_corpus(seed: int, out_dir: Path, n_docs: int) -> Corpus:
    """Write ``documents.parquet`` (doc_id, text, source; the catalog's
    ``documents`` shape) and return the planted structure.

    Base documents are 40-80 pseudo-words with a stopword every fifth
    word, drawn from a 4,000-word vocabulary, so unrelated documents share
    almost no 3-word shingle and only planted copies and edits are
    duplicates or near-duplicates.
    """
    rng = random.Random(seed)
    out_dir.mkdir(parents=True, exist_ok=True)
    banned = set(_EN_STOP) | set(_DE_STOP) | set(_OTHER_STOP)
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < 4000:
        w = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4)))
        if w not in seen and w not in banned:
            seen.add(w)
            words.append(w)

    def body(n_words: int, stops: list[str]) -> str:
        out = [rng.choice(stops) if i % 5 == 0 else rng.choice(words) for i in range(n_words)]
        # Two Gopher stopwords ("the", "of") in every English document.
        out[0], out[5] = ("the", "of") if stops is _EN_STOP else ("der", "und")
        return " ".join(out)

    n_exact = int(n_docs * CUR_EXACT_SHARE)
    n_near = int(n_docs * CUR_NEAR_SHARE)
    n_base = n_docs - n_exact - n_near
    texts: list[str] = []
    kinds: list[str] = []
    for _ in range(n_base):
        r = rng.random()
        if r < CUR_OTHER_LANG_SHARE:
            texts.append(body(rng.randint(40, 80), _DE_STOP))
            kinds.append("de")
        elif r < CUR_OTHER_LANG_SHARE + CUR_SHORT_SHARE:
            texts.append(body(rng.randint(10, 25), _EN_STOP))
            kinds.append("short")
        else:
            texts.append(body(rng.randint(40, 80), _EN_STOP))
            kinds.append("en")
    long_en = [i for i, k in enumerate(kinds) if k == "en"]
    exact_of: dict[int, list[int]] = {}
    for _ in range(n_exact):
        src = rng.randrange(n_base)
        exact_of.setdefault(src, [src]).append(len(texts))
        texts.append(texts[src])
        kinds.append(kinds[src])
    near_of: dict[int, list[int]] = {}
    for _ in range(n_near):
        src = rng.choice(long_en)
        toks = texts[src].split()
        # Edit content words only: the stopword slots carry the language
        # and Gopher verdicts, which a near-duplicate must share.
        content = [i for i in range(len(toks)) if i % 5]
        for pos in rng.sample(content, CUR_NEAR_EDITS):
            toks[pos] = rng.choice([w for w in rng.sample(words, 2) if w != toks[pos]])
        near_of.setdefault(src, [src]).append(len(texts))
        texts.append(" ".join(toks))
        kinds.append("en")
    # Shuffle ids so copies do not sit next to their source.
    order = list(range(len(texts)))
    rng.shuffle(order)
    new_id = {old: new for new, old in enumerate(order)}
    pq.write_table(pa.table({
        "doc_id": np.arange(len(order), dtype=np.int64),
        "text": [texts[old] for old in order],
        "source": [f"src{i % 8}" for i in range(len(order))],
    }), out_dir / "documents.parquet")
    return Corpus(
        n_docs=len(order),
        texts=[texts[old] for old in order],
        kinds=[kinds[old] for old in order],
        exact_families=[sorted(new_id[i] for i in fam) for _, fam in sorted(exact_of.items())],
        # A near family also holds the exact copies of its source: exact
        # dedup may keep a copy in place of the source itself.
        near_families=[sorted(new_id[i] for i in set(fam) | set(exact_of.get(src, [])))
                       for src, fam in sorted(near_of.items())],
    )
