"""Deterministic synthetic corpora (seed-free: pure functions of doc_id).

Writes parquet DATASETS (directories of ~2000-doc files) of exactly the
hinted input shape ``(doc_id string, spans array<struct<kind,text,
media_ref,offset int>>)``.  Multi-file layout matters: it is what a real
ingestion produces, it gives Spark scan splits to parallelize over, and
it keeps synthesis memory bounded.

Two corpora:
  * **oracle corpus** (``ora`` family only) — layout mirrored in DuckDB
    SQL so every pp_* query has an independent SQL oracle.
  * **mixed corpus** — all families, optionally plus pathological skew
    docs (bigdoc/bigmedia), used by pipeline tests.

Content is a pure function of (kind, scale): regeneration is idempotent.
"""

from __future__ import annotations

import itertools
import os
import zlib
from typing import Iterable, Iterator, List, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

from .kernel.layout import SPAN_BUILDERS

REPO_ROOT = os.path.dirname(os.path.abspath(__file__)) + "/.."
SYNTH_DIR = os.path.join(os.path.abspath(REPO_ROOT), "synthdata")

DOCS_PER_FILE = 2000

SPANS_ARROW_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        (
            "spans",
            pa.list_(
                pa.struct(
                    [
                        ("kind", pa.string()),
                        ("text", pa.string()),
                        ("media_ref", pa.string()),
                        ("offset", pa.int32()),
                    ]
                )
            ),
        ),
        # Span count as a TOP-LEVEL column: size(spans) cannot be pushed
        # to parquet stats, a plain int64 can — the skew split in
        # extract_spans_rebalanced becomes a stats-prunable predicate,
        # so the light/heavy branches read disjoint files instead of
        # scanning the corpus twice (pathological docs are clustered
        # into their own files, making per-file min/max stats tight).
        ("n_spans", pa.int64()),
    ]
)

# (doc_id, text) corpora: borderline-Jaccard and PII.
TEXT_ARROW_SCHEMA = pa.schema([("doc_id", pa.string()), ("text", pa.string())])

Row = Tuple[str, list, int]  # (doc_id, spans, n_spans)


def _iter_rows(family: str, count: int, start: int = 0) -> Iterator[Row]:
    builder = SPAN_BUILDERS[family]
    for i in range(start, start + count):
        doc_id = f"{family}-{i:06d}"
        spans = [
            {"kind": k, "text": t, "media_ref": m, "offset": o}
            for (k, t, m, o) in builder(i)
        ]
        yield (doc_id, spans, len(spans))


def _write_dataset(
    rows: Iterable[tuple], out_dir: str, schema: pa.Schema = SPANS_ARROW_SCHEMA
) -> str:
    """Chunked multi-file write of ``rows`` (tuples in ``schema`` field
    order), one part file per DOCS_PER_FILE rows, so memory is bounded
    at one file's rows."""
    tmp_dir = out_dir + ".tmp"
    os.makedirs(tmp_dir, exist_ok=True)
    it = iter(rows)
    for file_no in itertools.count():
        chunk = list(itertools.islice(it, DOCS_PER_FILE))
        if not chunk:
            break
        table = pa.Table.from_pydict(
            dict(zip(schema.names, map(list, zip(*chunk)))), schema=schema
        )
        pq.write_table(table, f"{tmp_dir}/part-{file_no:05d}.parquet")
    os.rename(tmp_dir, out_dir)  # atomic-ish publish: cache hit == complete
    return out_dir


def oracle_corpus_path(sf: float) -> str:
    return os.path.join(SYNTH_DIR, f"ora_sf{sf}")


def mixed_corpus_path(sf: float, skew: bool = False) -> str:
    tag = "skew" if skew else "flat"
    return os.path.join(SYNTH_DIR, f"mixed_{tag}_sf{sf}")


def family_corpus_path(family: str, sf: float) -> str:
    return os.path.join(SYNTH_DIR, f"fam_{family}_sf{sf}")


def ensure_oracle_corpus(sf: float) -> str:
    """ora-only corpus: n_docs = 60000 * sf (sf0.01 -> 600 docs)."""
    path = oracle_corpus_path(sf)
    if os.path.exists(path):
        return path
    n_docs = max(50, int(60000 * sf))
    return _write_dataset(_iter_rows("ora", n_docs), path)


def ensure_family_corpus(family: str, sf: float) -> str:
    """Single-family corpus (memo/ordsum/... golden-query inputs)."""
    path = family_corpus_path(family, sf)
    if os.path.exists(path):
        return path
    n_docs = max(20, int(20000 * sf))
    return _write_dataset(_iter_rows(family, n_docs), path)


def _mixed_rows(n_docs: int, skew: bool) -> Iterator[Row]:
    n_patho = (int(n_docs * 0.001) or 1) if skew else 0
    counts = {
        "ora": int(n_docs * 0.70),
        "memo": int(n_docs * 0.15),
        "media": int(n_docs * 0.10),
    }
    counts["ordsum"] = n_docs - sum(counts.values()) - 3 * n_patho

    # Deterministic interleave across families WITHOUT materializing all
    # rows: round-robin weighted by a stable per-doc_id sort key within
    # windows of one output file.
    iters = {fam: _iter_rows(fam, cnt) for fam, cnt in counts.items() if cnt}
    window: List[Row] = []
    live = dict(iters)
    while live:
        for fam in list(live):
            it = live[fam]
            took = 0
            budget = max(1, counts[fam] * DOCS_PER_FILE // max(n_docs, 1))
            for row in it:
                window.append(row)
                took += 1
                if took >= budget:
                    break
            if took < budget:
                del live[fam]
        if len(window) >= DOCS_PER_FILE or not live:
            window.sort(key=lambda r: zlib.crc32(r[0].encode()))
            yield from window
            window.clear()
    if n_patho:
        # Pathological docs are CLUSTERED at the tail (their own files),
        # like a crawl segment of heavy PDFs — this is the task-level skew
        # that extract_spans_rebalanced must break up; uniformly
        # interleaving them would hide the problem.
        yield from _iter_rows("bigdoc", n_patho)
        yield from _iter_rows("bigmedia", n_patho)
        # bigtable: superlinear-recipe docs — compute skew that byte-
        # bounded scan splits CANNOT bound (unlike bigdoc/bigmedia).
        yield from _iter_rows("bigtable", n_patho)


def ensure_mixed_corpus(sf: float, skew: bool = False) -> str:
    """Mixed-family corpus: n_docs = 200000 * sf (sf0.1 -> 20000 docs).

    With ``skew=True``, 0.1% of docs are pathological (bigdoc: 4800 spans
    over 1600 pages — ~300x the average doc; bigmedia: 600 spans with
    giant media payloads), clustered into their own files — the
    AQE-invisible compute skew the pipeline's salting must absorb.
    """
    path = mixed_corpus_path(sf, skew)
    if os.path.exists(path):
        return path
    n_docs = max(100, int(200000 * sf))
    return _write_dataset(_mixed_rows(n_docs, skew), path)


def sf_of_dir(sf_dir: str) -> float:
    """Parse the scale factor from a driver testdata dir name (…/sf0.01)."""
    base = os.path.basename(os.path.normpath(sf_dir))
    if base.startswith("sf"):
        return float(base[2:])
    return 0.01


# ---------------------------------------------------------------------------
# HTML corpus — deterministic web pages for the main-content-extraction
# surface (north_rule: "HTML boilerplate strip … DOM heuristics").
#
# Every page is a pure function of its doc number: a content region
# (headings, paragraphs, inline links/entities, interleaved <img> media)
# wrapped in the classic boilerplate shells a crawler sees — <script>/
# <style>, <header>/<nav>/<aside>/<footer> chrome, and link-farm "ad"
# blocks that survive region stripping but fail the link-density rule.
# Variants exercised: uppercase tags (i%11==0), nested div wrappers
# (i%5==0), HTML entities, short sub-threshold captions vs long ones.
# ---------------------------------------------------------------------------

_HTML_WORDS = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
    "oscar", "papa", "quebec", "romeo", "sierra", "tango",
]


def _hw(i: int, j: int) -> str:
    return _HTML_WORDS[(i * 7 + j * 13) % len(_HTML_WORDS)]


def _html_sentence(i: int, para: int, n_words: int) -> str:
    words = [_hw(i, para * 31 + k) for k in range(n_words)]
    if (i + para) % 6 == 0 and n_words >= 4:
        words[2] = words[2] + " &amp; " + words[3]  # decodes to '&'
        del words[3]
    if (i + para) % 9 == 0 and len(words) >= 2:
        words[1] = words[1] + "&#39;s"  # decodes to apostrophe
    # All injection moduli divide 180 so the main-content period-180
    # duplicate structure (html_dedup_main_text's oracle) is preserved.
    if (i + para) % 12 == 3 and len(words) >= 3:
        # common numeric refs (curly quote, e-acute): stay on the
        # codegen fast chain (html.FAST_NUMERIC_ENTITIES)
        words[2] = words[2] + "&#8217;s"
    if (i + para) % 10 == 5:
        words[0] = "caf&#233;"
    if i % 36 == 0 and para == 0 and len(words) >= 2:
        # exotic hex ref: routes the whole page down the interpreted
        # full-decode branch (html.needs_full_decode_expr) — ~2.8%
        # of pages, so both plan branches are exercised end to end
        words[1] = "snow&#x2603;man"
    return " ".join(words)


def html_doc(i: int) -> str:
    """One deterministic web page (pure function of ``i``)."""
    up = i % 11 == 0  # uppercase block tags — the (?i) path
    p, endp = ("<P>", "</P>") if up else ("<p>", "</p>")
    parts = [
        "<!DOCTYPE html>",
        "<html><head>",
        f"<title>Doc {i} &amp; the {_hw(i, 0)} report</title>",
        "<style>body { margin: 0; }</style>",
        f"<script>var page = {i};</script>",
        "</head>",
        "<body>",
        f'<header><h1>Site {i % 7}</h1><a href="/home">Home</a></header>',
        "<nav><ul>"
        + "".join(
            f'<li><a href="/s{k}">section {k}</a></li>'
            for k in range(3 + i % 4)
        )
        + "</ul></nav>",
        "<!-- layout chrome ends here -->",
    ]
    if i % 5 == 0:
        parts.append('<div class="outer"><div class="inner">')
    # Heading: 3-5 words — straddles the min-chars content threshold.
    parts.append(f"<h2>{_html_sentence(i, 90, 3 + i % 3)}</h2>")
    n_paras = 2 + i % 5
    for j in range(n_paras):
        body = _html_sentence(i, j, 10 + (i + j) % 6)
        if j == 0:
            body = f'<img src="img://{i}/0" alt=""/>' + body
        if (i + j) % 4 == 0:
            body += f' see <a href="/x{j}">the {_hw(i, j + 50)} notes</a>'
        parts.append(f"{p}{body}{endp}")
    # Universal in-content boilerplate: the SAME plain-text paragraph on
    # every page, long and link-free, so it passes the page-LOCAL
    # content classifier by design — only the corpus-level line rule
    # (dedup.line_dedup / html_line_dedup) can catch it.  Constant
    # across pages, so the main-text period-180 duplicate structure is
    # untouched.
    parts.append(
        f"{p}subscribe to the weekly bulletin for updates announcements"
        f" and community news delivered every morning{endp}"
    )
    # Link-farm ad block: survives region strip, fails link density.
    parts.append(
        f'<div class="ad"><a href="/buy{i}">buy {_hw(i, 7)} now</a></div>'
    )
    # Figure caption: short (boilerplate) except every third doc.
    cap_words = 9 if i % 3 == 0 else 2
    parts.append(
        f'{p}<img src="img://{i}/1" alt=""/>{_html_sentence(i, 95, cap_words)}{endp}'
    )
    if i % 5 == 0:
        parts.append("</div></div>")
    parts.append(
        '<aside><a href="/rel1">related</a> <a href="/rel2">more</a></aside>'
    )
    parts.append(f'<footer>&copy; site {i % 7} <a href="/priv">Privacy</a></footer>')
    parts.append("</body></html>")
    return "\n".join(parts)


HTML_ARROW_SCHEMA = pa.schema([("doc_id", pa.string()), ("html", pa.string())])


# ---------------------------------------------------------------------------
# Borderline-Jaccard corpus — engineered near-dup pairs at J ~ 0.45-0.82
# for the LSH recall fixture.  The driver's near-dup corpora contain
# only near-identical families (J ~ 1), which any banding config
# catches; the statistical risk of a weak config is at the BORDERLINE
# (J around the 0.5 dedup threshold), so this corpus plants pairs
# exactly there.
#
# Construction (pure function of doc number): docs come in groups of 3
# (A, B, singleton).  Every word is unique to its group (fixed-width
# ids), so 3-gram shingle sets are disjoint ACROSS groups and J is
# exactly controlled WITHIN a group: A and B share their first m words
# and differ afterwards, giving x = m-2 shared shingles out of
# s = N_WORDS-2 per doc, J = x / (2s - x).  The per-group x cycles
# through _BL_SHARED, sweeping J across the threshold:
#   x=25 -> J=0.4545 (below 0.5: precision probe)
#   x=27 -> J=0.5094, x=28 -> J=0.5385, x=30 -> J=0.6000,
#   x=32 -> J=0.6667, x=36 -> J=0.8182
# ---------------------------------------------------------------------------

_BL_WORDS = 42  # words per doc -> 40 distinct 3-gram shingles
_BL_SHARED = [25, 27, 28, 30, 32, 36]  # shared-shingle counts x


def borderline_text(i: int) -> str:
    """One corpus doc: group g = i//3, role = i%3 (0=A, 1=B, 2=singleton)."""
    g, role = divmod(i, 3)
    if role == 2:  # singleton distractor: all words unique to this doc
        return " ".join(f"w{g:05d}s{k:02d}" for k in range(_BL_WORDS))
    x = _BL_SHARED[g % len(_BL_SHARED)]
    m = x + 2  # shared-prefix word count
    words = [f"w{g:05d}a{k:02d}" for k in range(_BL_WORDS)]
    if role == 1:  # pair doc: same prefix, unique same-width tail
        words[m:] = [f"w{g:05d}b{k:02d}" for k in range(m, _BL_WORDS)]
    return " ".join(words)


def borderline_expected_pairs(n_docs: int, threshold: float = 0.5):
    """The exact (doc_a, doc_b, jaccard) set the corpus plants — the
    test fixture's ground truth, derived from the construction math."""
    s = _BL_WORDS - 2
    out = []
    for g in range(n_docs // 3):
        x = _BL_SHARED[g % len(_BL_SHARED)]
        j = round(x / (2 * s - x), 4)
        if j >= threshold:
            out.append((f"bl-{3 * g:06d}", f"bl-{3 * g + 1:06d}", j))
    return out


def borderline_corpus_path(sf: float) -> str:
    return os.path.join(SYNTH_DIR, f"borderline_sf{sf}")


def ensure_borderline_corpus(sf: float) -> str:
    """Borderline-J corpus: n_docs = 60000*sf (sf0.01 -> 600 docs =
    200 planted pairs sweeping J in [0.45, 0.82])."""
    path = borderline_corpus_path(sf)
    if os.path.exists(path):
        return path
    n_docs = max(60, int(60000 * sf)) // 3 * 3
    return _write_dataset(
        ((f"bl-{i:06d}", borderline_text(i)) for i in range(n_docs)),
        path,
        TEXT_ARROW_SCHEMA,
    )


def html_corpus_path(sf: float) -> str:
    return os.path.join(SYNTH_DIR, f"html_sf{sf}")


def ensure_html_corpus(sf: float) -> str:
    """HTML corpus: n_docs = 60000*sf (sf0.01 -> 600 pages)."""
    path = html_corpus_path(sf)
    if os.path.exists(path):
        return path
    n_docs = max(50, int(60000 * sf))
    return _write_dataset(
        ((f"html-{i:06d}", html_doc(i)) for i in range(n_docs)),
        path,
        HTML_ARROW_SCHEMA,
    )


# ---------------------------------------------------------------------------
# PII corpus: planted emails / phones / IPs for the pii_scrub operator
# ---------------------------------------------------------------------------


def pii_text(i: int) -> str:
    """Deterministic text with planted PII-shaped tokens.

    Plants true positives (email / phone / ip), designed near-misses
    (domain-less '@', SSN-shaped 3-2-4 digits — neither may match), and
    one detector-overlap stress case (a phone-shaped email local part,
    which must count for BOTH detectors but redact once as the email)."""
    words = [_hw(i, j) for j in range(24)]
    if i % 3 == 0:
        words[4] = f"user.{i % 97}+tag@mail{i % 5}.example.com"
    if i % 4 == 1:
        words[9] = f"{200 + i % 700}-{100 + i % 900}-{1000 + i % 9000}"
    if i % 5 == 2:
        words[14] = f"10.{i % 256}.{(i * 3) % 256}.{(i * 7) % 256}"
    if i % 7 == 3:
        words[19] = "not@adomain"  # no dotted TLD: not an email
    if i % 7 == 5:
        words[19] = f"{i % 900 + 100}-{i % 90 + 10}-{i % 9000 + 1000}"
        # 3-2-4 digit groups: SSN-shaped, matches NO detector
    if i % 11 == 4:
        words[6] = f"{i % 700 + 100}-{i % 900 + 100}-{i % 9000 + 1000}@mail.example.net"
        # phone-shaped local part: email AND phone detect; email redacts
    return " ".join(words)


def pii_corpus_path(sf: float) -> str:
    return os.path.join(SYNTH_DIR, f"pii_sf{sf}")


def ensure_pii_corpus(sf: float) -> str:
    """PII corpus: n_docs = 60000*sf (sf0.01 -> 600 docs)."""
    path = pii_corpus_path(sf)
    if os.path.exists(path):
        return path
    n_docs = max(50, int(60000 * sf))
    return _write_dataset(
        ((f"pii-{i:06d}", pii_text(i)) for i in range(n_docs)),
        path,
        TEXT_ARROW_SCHEMA,
    )


# ---------------------------------------------------------------------------
# planted near-dup embedding fixture (semantic dedup)
# ---------------------------------------------------------------------------

EMBDUP_DIM = 16
EMBDUP_ARROW_SCHEMA = pa.schema(
    [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))]
)


def _prand(seed: int, pos: int) -> float:
    """Deterministic platform-stable pseudo-random in [-1, 1)
    (crc32-based, like the corpus shufflers above)."""
    h = zlib.crc32(f"{seed}:{pos}".encode()) & 0xFFFFFFFF
    return (h % 200000) / 100000.0 - 1.0


def _embdup_unit(seed: int, dim: int = EMBDUP_DIM) -> List[float]:
    import math

    vals = [_prand(seed, p) for p in range(dim)]
    n = math.sqrt(sum(v * v for v in vals)) or 1.0
    return [v / n for v in vals]


def embdup_vector(i: int, dim: int = EMBDUP_DIM) -> List[float]:
    """Planted-cluster rule (pure function of vec_id):
    groups of 3 consecutive ids; member 0 = the group base direction,
    member 1 = base + 0.02·jitter (cos ≈ 0.9998 — a semantic dup),
    member 2 = another dup when group %% 3 == 0 (a 3-cluster), else an
    independent direction (singleton).  Components rounded to 6dp so
    the parquet floats are the exact values both engines read."""
    g, m = divmod(i, 3)
    if m == 0:
        v = _embdup_unit(g * 1000003 + 17, dim)
    elif m == 1 or g % 3 == 0:
        base = _embdup_unit(g * 1000003 + 17, dim)
        jit = _embdup_unit(g * 7919 + m * 104729 + 5, dim)
        v = [b + 0.02 * x for b, x in zip(base, jit)]
    else:
        v = _embdup_unit(i * 15485863 + 9, dim)
    return [float(round(x, 6)) for x in v]


def embdup_corpus_path(sf: float) -> str:
    return os.path.join(SYNTH_DIR, f"embdup_sf{sf}")


def ensure_embdup_corpus(sf: float) -> str:
    """Planted near-dup embedding corpus: n = 50000*sf vectors (sf0.01
    -> 500) with deterministic 2- and 3-clusters and singletons."""
    path = embdup_corpus_path(sf)
    if os.path.exists(path):
        return path
    n_vecs = max(120, int(50000 * sf)) // 3 * 3
    return _write_dataset(
        ((i, embdup_vector(i)) for i in range(n_vecs)),
        path,
        EMBDUP_ARROW_SCHEMA,
    )
