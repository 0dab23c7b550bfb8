"""Deterministic synthetic `pages` table + labeled entity pairs.

Implements FIXTURES.md §1/§2/§5: a Common-Crawl-shaped table
``pages(url string, warc_ts timestamp, html binary, text string, lang string)``
whose ``text`` values are BRAND-MODEL strings (the shape of the reference's
cars.dict fixture, /root/reference/pkg/suggest/testdata/cars.dict — 5,066
"BRAND MODEL" lines) plus seeded typo variants, so ground-truth entity
clusters are known exactly.

Everything is generated from ``numpy.random.RandomState(seed)`` — same seed,
same rows, independent of Spark parallelism (generation happens driver-side
in pandas and is parallelized by Spark only afterwards).
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BRANDS = [
    "nissan", "toyota", "honda", "mazda", "subaru", "suzuki", "mitsubishi",
    "daihatsu", "isuzu", "lexus", "infiniti", "acura", "datsun", "hino",
    "volga", "lada", "kamaz", "moskvich",
]
SYLLABLES = [
    "ma", "ri", "ko", "ta", "no", "su", "mi", "ka", "ru", "se", "do", "va",
    "li", "mo", "ne", "pa", "to", "zu", "ha", "ge",
]
LANGS = ["en", "en", "en", "ru", "en"]  # en-heavy mix (FIXTURES.md §1)

_ALPHA = "abcdefghijklmnopqrstuvwxyz"

HTML_PREFIX = b"<html><body>"
HTML_SUFFIX = b"</body></html>"


def cars_synth(n_entities: int, seed: int = 42) -> list[str]:
    """~n unique BRAND MODEL strings from seeded syllable pools."""
    rng = np.random.RandomState(seed)
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n_entities:
        brand = BRANDS[rng.randint(len(BRANDS))]
        n_syll = 2 + rng.randint(3)
        model = "".join(SYLLABLES[rng.randint(len(SYLLABLES))] for _ in range(n_syll))
        suffix = "" if rng.rand() < 0.6 else f" {rng.randint(10, 99)}"
        s = f"{brand} {model}{suffix}"
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


def _typo(rng: np.random.RandomState, s: str, n_edits: int) -> str:
    """1-2 seeded edits: substitution / deletion / transposition (FIXTURES.md §5)."""
    chars = list(s)
    for _ in range(n_edits):
        if len(chars) < 3:
            break
        i = rng.randint(1, len(chars) - 1)
        op = rng.randint(3)
        if op == 0:
            chars[i] = _ALPHA[rng.randint(26)]
        elif op == 1:
            del chars[i]
        else:
            chars[i], chars[i - 1] = chars[i - 1], chars[i]
    return "".join(chars)


def make_pages_pdf(
    n_entities: int,
    dup_rate: float = 1.5,
    seed: int = 42,
) -> pd.DataFrame:
    """Pandas frame ``(url, warc_ts, html, text, lang, entity_id)``.

    Each entity gets one canonical page plus ``Poisson(dup_rate)`` typo-variant
    pages; ``entity_id`` is the ground-truth cluster label (dropped from the
    public `pages` view, used by F1 evaluation).
    """
    entities = cars_synth(n_entities, seed)
    rng = np.random.RandomState(seed + 1)
    base_ts = datetime(2024, 1, 1, tzinfo=timezone.utc)

    rows = []
    i = 0
    for ent_id, text in enumerate(entities):
        n_variants = 1 + rng.poisson(dup_rate)
        for v in range(n_variants):
            page_text = text if v == 0 else _typo(rng, text, 1 + rng.randint(2))
            url = f"https://site{i % 97}.example/p/{i}"
            rows.append(
                (
                    url,
                    base_ts + timedelta(seconds=i),
                    HTML_PREFIX + page_text.encode("utf-8") + HTML_SUFFIX,
                    page_text,
                    LANGS[i % len(LANGS)],
                    ent_id,
                )
            )
            i += 1
    return pd.DataFrame(
        rows, columns=["url", "warc_ts", "html", "text", "lang", "entity_id"]
    )


PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string, entity_id long"


def make_pages(
    spark: SparkSession,
    n_entities: int,
    dup_rate: float = 1.5,
    seed: int = 42,
    partitions: int | None = None,
) -> DataFrame:
    """Spark `pages` DataFrame (with the ground-truth ``entity_id`` column)."""
    pdf = make_pages_pdf(n_entities, dup_rate, seed)
    df = spark.createDataFrame(pdf, schema=PAGES_SCHEMA)
    if partitions:
        df = df.repartition(partitions)
    return df


def extract_text(html: F.Column) -> F.Column:
    """Extract text from the synthetic html wrapper.

    The per-row invariant (BASELINE.json input_hint) is that extracted text is
    byte-identical per url to the provided ``text`` column; the extraction is
    a deterministic pure-column expression (no Python), so identical bytes in
    give identical bytes out on every run and at every parallelism.
    """
    s = F.decode(html, "UTF-8")
    start = F.lit(len(HTML_PREFIX) + 1)
    length = F.char_length(s) - F.lit(len(HTML_PREFIX) + len(HTML_SUFFIX))
    return F.substring(s, start, length)


def labeled_pairs_pdf(pages_pdf: pd.DataFrame, n_negatives_per_pos: int = 1, seed: int = 7) -> pd.DataFrame:
    """Labeled pair set (FIXTURES.md §5): all same-entity pairs as positives,
    seeded hard negatives drawn from other entities sharing a brand token."""
    rng = np.random.RandomState(seed)
    by_ent: dict[int, list[str]] = {}
    brand_of: dict[str, str] = {}
    for r in pages_pdf.itertuples():
        by_ent.setdefault(r.entity_id, []).append(r.url)
        brand_of[r.url] = r.text.split(" ")[0]

    pos = []
    for urls in by_ent.values():
        urls = sorted(urls)
        for a in range(len(urls)):
            for b in range(a + 1, len(urls)):
                pos.append((urls[a], urls[b], 1))

    urls_by_brand: dict[str, list[str]] = {}
    for u, b in brand_of.items():
        urls_by_brand.setdefault(b, []).append(u)
    ent_of = {u: e for e, us in by_ent.items() for u in us}

    neg = []
    all_urls = sorted(brand_of)
    target = len(pos) * n_negatives_per_pos
    attempts = 0
    while len(neg) < target and attempts < target * 20:
        attempts += 1
        u = all_urls[rng.randint(len(all_urls))]
        pool = urls_by_brand[brand_of[u]]
        v = pool[rng.randint(len(pool))]
        if u == v or ent_of[u] == ent_of[v]:
            continue
        a, b = min(u, v), max(u, v)
        neg.append((a, b, 0))

    df = pd.DataFrame(pos + neg, columns=["url_a", "url_b", "is_match"])
    return df.drop_duplicates(subset=["url_a", "url_b"], keep="first").reset_index(drop=True)


def url_id(url_col: F.Column) -> F.Column:
    """Stable 128-bit node id for a url: md5 as BINARY(16) — orderable
    (unsigned lexicographic, identical to Python bytes ordering),
    deterministic across runs and parallelism levels, and 3× smaller on the
    wire than hex strings.  64-bit hashes would collide at the
    10^12-document design point; 128-bit does not."""
    return F.unhex(F.md5(url_col))


def url_id_py(url: str) -> bytes:
    return hashlib.md5(url.encode("utf-8")).digest()


def make_clustered_embeddings(
    spark: SparkSession,
    n_vectors: int,
    dim: int = 64,
    n_clusters: int = 32,
    noise: float = 0.25,
    seed: int = 42,
) -> DataFrame:
    """Mixture-of-Gaussians embedding corpus ``(vec_id long, cluster int,
    embedding array<double>)`` — unit-norm vectors concentrated around
    ``n_clusters`` random unit centers (vector = normalize(center + p) where
    p ~ N(0, (noise²/dim)·I), i.e. ``noise`` is the EXPECTED PERTURBATION
    NORM relative to the unit center — dimension-independent, so noise=0.25
    gives same-cluster cosine ≈ 0.97 at any dim).

    The sf* ``embeddings.parquet`` vectors are isotropic uniform — ANN's
    worst case, where no quantizer can beat probe_frac by much.  Real
    embedding corpora are heavily clustered; this fixture is the shape IVF
    recall is meaningful on (the evaluation setup used by the FAISS/IVFADC
    literature, e.g. Jégou et al., "Product Quantization for Nearest
    Neighbor Search", TPAMI 2011).

    Deterministic: everything from ``RandomState(seed)``, generated
    driver-side in one pandas frame (fixture scale only — a 100 TB corpus
    would generate per-partition from ``(seed, partition_id)`` instead).
    """
    rng = np.random.RandomState(seed)
    centers = rng.randn(n_clusters, dim)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.randint(n_clusters, size=n_vectors)
    vecs = centers[labels] + (noise / np.sqrt(dim)) * rng.randn(n_vectors, dim)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(n_vectors, dtype=np.int64),
            "cluster": labels.astype(np.int32),
            "embedding": list(vecs.tolist()),
        }
    )
    return spark.createDataFrame(
        pdf, "vec_id long, cluster int, embedding array<double>"
    )
