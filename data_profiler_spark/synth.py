"""Deterministic synthetic Common-Crawl-style ``pages`` table (FIXTURES.md §F1).

Schema per BASELINE.json ``input_hint``:
``url:string, warc_ts:timestamp, html:binary, text:string, lang:string``.

Every field is a pure function of ``(seed, doc_id)`` — generation is
identical no matter how rows are partitioned, so the single-process
reference labeler and the distributed pipeline see the same bytes.
Spark-side generation is ``spark.range(n) → mapInPandas`` (scales linearly
with partitions: each task generates its own id-range; no driver
materialization, no shuffle).

Mixture (seeded):
* language: en-heavy with fr/es/de/it minorities (langid gate coverage);
* quality classes for en docs: clean + six violation classes, each built
  to violate its rule with a wide margin (robust F1);
* ~12 % of docs get PII tokens appended (emails, phones, SSNs, credit
  cards) at known offsets — scrub output is byte-checkable;
* a Zipf-ish host distribution so a few hosts dominate → exercises the
  salted-repartition skew path;
* ~0.5 % of ``html`` payloads get an injected invalid UTF-8 byte →
  exercises the byte-offset UTF-8 validator (reference
  ``api/services/ingest.py:103-200``).
"""

from __future__ import annotations

import datetime as dt
import random

import pandas as pd

from .functions import corpus

SEED = 42
N_HOSTS = 100
_EPOCH = dt.datetime(2023, 1, 1)
_SPAN_SECONDS = 730 * 24 * 3600

# Zipf-ish host weights: host k gets weight 1/(k+1).
_HOST_CUM: list[float] = []
_total = 0.0
for _k in range(N_HOSTS):
    _total += 1.0 / (_k + 1)
    _HOST_CUM.append(_total)

LANG_MIX = [("en", 0.44), ("fr", 0.14), ("es", 0.14), ("de", 0.14), ("it", 0.14)]
EN_CLASSES = [
    ("clean", 0.64),
    ("symbol_spam", 0.06),
    ("repeated_lines", 0.06),
    ("too_short", 0.06),
    ("bullet_spam", 0.06),
    ("gibberish", 0.06),
    ("numeric_spam", 0.06),
]

PII_SNIPPETS = [
    "Contact us at {email} for details.",
    "Call {phone} or email {email} today.",
    "SSN on file: {ssn}.",
    "Billing card {cc} expires soon.",
    "Reach {email} / {phone}. Account SSN {ssn}, card {cc}.",
]


def _weighted(rng: random.Random, pairs) -> str:
    x = rng.random()
    acc = 0.0
    for value, w in pairs:
        acc += w
        if x < acc:
            return value
    return pairs[-1][0]


def _gibberish_word(rng: random.Random) -> str:
    consonants = "bcdfghjklmnpqrstvwxz"
    return "".join(rng.choice(consonants) for _ in range(rng.randint(4, 9)))


def _make_text(rng: random.Random, lang: str, klass: str) -> str:
    if klass == "clean":
        return corpus.make_paragraphs(rng, lang, rng.randint(4, 10), (8, 16))
    if klass == "symbol_spam":
        lines = []
        for _ in range(rng.randint(4, 8)):
            ws = [rng.choice(corpus.WORDS["en"]) for _ in range(rng.randint(6, 12))]
            # one '#' per ~2 words → symbol ratio ≈ 0.5 ≫ 0.10
            spam = [w if i % 2 else w + " ###" for i, w in enumerate(ws)]
            lines.append(" ".join(spam))
        return "\n".join(lines)
    if klass == "repeated_lines":
        line = corpus.make_sentence(rng, "en", rng.randint(8, 12))
        return "\n".join([line] * rng.randint(8, 14))  # dup fraction ≳ 0.9
    if klass == "too_short":
        return corpus.make_sentence(rng, "en", rng.randint(2, 5))
    if klass == "bullet_spam":
        return "\n".join(
            "- " + corpus.make_sentence(rng, "en", rng.randint(6, 10))
            for _ in range(rng.randint(6, 12))
        )
    if klass == "gibberish":
        return "\n".join(
            " ".join(_gibberish_word(rng) for _ in range(rng.randint(8, 14)))
            for _ in range(rng.randint(4, 8))
        )
    if klass == "numeric_spam":
        return "\n".join(
            " ".join(str(rng.randint(0, 999999)) for _ in range(rng.randint(8, 14)))
            for _ in range(rng.randint(4, 8))
        )
    raise ValueError(klass)


def _pii_tail(rng: random.Random, i: int) -> str:
    email = f"user{i}@example.com"
    phone = rng.choice([f"555-123-{i % 10000:04d}", f"(555) 123-{i % 10000:04d}", f"555.867.{i % 10000:04d}"])
    ssn = f"{i % 900 + 100:03d}-{i % 89 + 10:02d}-{i % 9000 + 1000:04d}"
    cc = rng.choice(
        [f"4111 1111 1111 {i % 10000:04d}", f"4111-1111-1111-{i % 10000:04d}", f"411111111111{i % 10000:04d}"]
    )
    tmpl = rng.choice(PII_SNIPPETS)
    return tmpl.format(email=email, phone=phone, ssn=ssn, cc=cc)


def gen_doc(doc_id: int, seed: int = SEED) -> dict:
    """Pure (seed, doc_id) → page row."""
    rng = random.Random(f"doc:{seed}:{doc_id}")
    lang = _weighted(rng, LANG_MIX)
    klass = _weighted(rng, EN_CLASSES) if lang == "en" else "clean"
    text = _make_text(rng, lang, klass)
    if rng.random() < 0.12:
        text = text + "\n" + _pii_tail(rng, doc_id)
    host = next(k for k, cum in enumerate(_HOST_CUM) if rng.random() * _total < cum or k == N_HOSTS - 1)
    url = f"https://host{host}.example/p/{doc_id}"
    ts = _EPOCH + dt.timedelta(seconds=int(rng.random() * _SPAN_SECONDS))
    html = f"<html><body>{text}</body></html>".encode("utf-8")
    if rng.random() < 0.005:
        # lone 0xC3 continuation-starter followed by ASCII = invalid UTF-8
        cut = len(html) // 2
        html = html[:cut] + b"\xc3" + html[cut:]
    return {
        "doc_id": doc_id,
        "url": url,
        "warc_ts": ts,
        "html": html,
        "text": text,
        "lang": lang,
        "quality_class": klass,
    }


def pages_pandas(n: int, seed: int = SEED) -> pd.DataFrame:
    return pd.DataFrame([gen_doc(i, seed) for i in range(n)])


PAGES_SCHEMA = (
    "doc_id long, url string, warc_ts timestamp, html binary, "
    "text string, lang string, quality_class string"
)


def pages_df(spark, n: int, seed: int = SEED, partitions: int | None = None):
    """Distributed generation: each task materializes its own id range."""
    parts = partitions or spark.sparkContext.defaultParallelism

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].tolist()
            yield pd.DataFrame([gen_doc(i, seed) for i in ids])

    return spark.range(0, n, 1, parts).mapInPandas(gen, PAGES_SCHEMA)


# ---------------------------------------------------------------------------
# Skew-stress fixture (FIXTURES.md §F1b): the adversarial-but-realistic
# CommonCrawl shape — one host dominating the crawl, cross-document
# boilerplate lines, and a massive exact-duplicate family (one hot bucket
# in EVERY LSH band). The uniform fixture verifies correctness; this one
# is what the skew defenses (salted write, map-side-combinable line
# counts, max_band_df star routing, AQE skew-join) are FOR, so the bench
# times both and BASELINE.md records the ratio.
# ---------------------------------------------------------------------------

BOILERPLATE_LINES = [
    "copyright 2023 example corporation all rights reserved worldwide notice",
    "subscribe to our newsletter for the latest updates and special offers",
    "this website uses cookies to ensure you get the best experience here",
    "terms of service privacy policy contact careers press accessibility",
    "share this article on social media with friends and family members",
]

# One fixed page body shared verbatim by the duplicate family: identical
# shingle set ⇒ identical minhash signature ⇒ identical key in every band.
DUP_FAMILY_TEXT = (
    "breaking news syndicated wire story repeated across mirror sites\n"
    "the quick brown fox jumps over the lazy dog in every mirror copy\n"
    "reporters wrote one article and a thousand domains republished it\n"
    "subscribe to our newsletter for the latest updates and special offers"
)

# Shares of pages forced onto the hot host and given boilerplate lines.
SKEW_HOT_HOST_FRAC = 0.2
SKEW_BOILER_RATE = 0.5


def skew_doc(doc_id: int, seed: int = SEED, dup_family_frac: float = 0.1) -> dict:
    """Pure (seed, doc_id) → skew-stressed page row (same schema as
    :func:`gen_doc`, derived from it)."""
    row = gen_doc(doc_id, seed)
    rng = random.Random(f"skew:{seed}:{doc_id}")
    if rng.random() < dup_family_frac:
        row["text"] = DUP_FAMILY_TEXT
        row["quality_class"] = "dup_family"
    elif rng.random() < SKEW_BOILER_RATE:
        extra = [
            BOILERPLATE_LINES[rng.randrange(len(BOILERPLATE_LINES))]
            for _ in range(rng.randint(1, 3))
        ]
        row["text"] = "\n".join(row["text"].split("\n") + extra)
    if rng.random() < SKEW_HOT_HOST_FRAC:
        # forced on top of the base Zipf draw (host0 already ~19 %), so
        # the hot host carries ~35 % of the crawl
        row["url"] = f"https://host0.example/p/{doc_id}"
    row["html"] = f"<html><body>{row['text']}</body></html>".encode("utf-8")
    return row


def skewed_pages_df(spark, n: int, seed: int = SEED, partitions: int | None = None):
    """Distributed skew-stress generation; same shape as :func:`pages_df`."""
    parts = partitions or spark.sparkContext.defaultParallelism

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame([skew_doc(i, seed) for i in pdf["id"].tolist()])

    return spark.range(0, n, 1, parts).mapInPandas(gen, PAGES_SCHEMA)
