"""Seeded input generators for the ``ingest`` workload.

Every generator draws from ``random.Random(seed)`` and nothing else, so
the same seed gives byte-identical inputs. Each returns the inputs
together with the ground truth the workload checks against. Generation
is never timed.

- ``make_site``     — the fixture Liferay site for ``ingest``: four
  product listings paginated 60 rows a page with an "of N results"
  counter and ``_cur`` links, archived rows, onclick links, F1/F2
  violators, one FlateDecode PDF per product, and a second phase that
  publishes ~5% new listings.
- ``make_corpus``   — the PDF corpus behind the site's documents, for
  Stage 2: originals, exact copies, near-duplicate copies (token edits
  aimed at 3-shingle Jaccard 0.8-0.95) and documents built to fail each
  quality gate.
"""

from __future__ import annotations

import random
import re
import zlib
from dataclasses import dataclass, field

# Same list as insurance_helper_spark.functions.text.EN_STOPWORDS; the
# quality gate replica below must count exactly the program's stopwords.
STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "was", "at", "by", "be", "this", "that",
)
_SYLLABLES = (
    "ba", "co", "di", "fe", "ga", "hi", "jo", "ku", "la", "me", "ni", "po",
    "qua", "ri", "sa", "te", "vu", "wi", "xe", "yo", "zu", "ran", "ten",
    "lis", "mor", "pol", "sur", "ven", "cla", "dem",
)
PAGE_SIZE = 60
NEW_SHARE = 0.05  # listings the site publishes between the two passes


def vocabulary(rng: random.Random, n: int, min_len: int = 4, max_len: int = 9) -> list[str]:
    """``n`` distinct pseudo-words of ``min_len``..``max_len`` letters."""
    words: set[str] = set()
    while len(words) < n:
        w = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4)))
        if min_len <= len(w) <= max_len and w not in STOPWORDS:
            words.add(w)
    return sorted(words)


def random_words(rng: random.Random, vocab: list[str], n: int, stop_share: float = 0.15) -> list[str]:
    return [
        rng.choice(STOPWORDS) if rng.random() < stop_share else rng.choice(vocab)
        for _ in range(n)
    ]


# ---------------------------------------------------------------------------
# PDF writer
# ---------------------------------------------------------------------------


def pdf_lines(words: list[str], per_line: int = 12) -> list[str]:
    return [" ".join(words[i : i + per_line]) for i in range(0, len(words), per_line)]


def pdf_bytes(lines: list[str]) -> bytes:
    """A one-page PDF whose content stream is FlateDecode-compressed and
    shows each line with ``Tj`` (``T*`` between lines). Lines must not
    contain ``(``, ``)`` or ``\\``."""
    ops = ["BT", "/F1 11 Tf", "72 760 Td", "14 TL"]
    for i, line in enumerate(lines):
        if i:
            ops.append("T*")
        ops.append(f"({line}) Tj")
    ops.append("ET")
    body = zlib.compress("\n".join(ops).encode("latin-1"))
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R "
        b"/Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(body) + body + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, obj in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + obj + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    out += b"".join(b"%010d 00000 n \n" % o for o in offsets)
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (len(objs) + 1, xref)
    return bytes(out)


def flate_body_ends_in_eol(pdf: bytes) -> bool:
    """True when the compressed content stream's last byte is CR or LF.
    The extractor strips trailing CR/LF before inflating, so these PDFs
    are the known extraction failures; the benchmark counts them and
    does not avoid them."""
    start = pdf.index(b"stream\n") + len(b"stream\n")
    end = pdf.index(b"\nendstream")
    return pdf[end - 1 : end] in (b"\r", b"\n")


# ---------------------------------------------------------------------------
# Quality-gate / dedup replicas (ground truth, checked by the self-tests)
# ---------------------------------------------------------------------------

_NON_ALNUM = re.compile(r"[^a-z0-9]+")


def tokens(text: str) -> list[str]:
    return [t for t in _NON_ALNUM.split(text.lower()) if t]


def passes_gates(text: str, min_tokens: int = 30) -> bool:
    """Replica of the ``curate`` command's gates for ASCII text."""
    toks = tokens(text)
    if len(toks) < min_tokens:
        return False
    mwl = sum(len(t) for t in toks) / len(toks)
    punct = len(re.sub(r"[A-Za-z0-9\s]", "", text)) / len(text)
    stop = sum(t in STOPWORDS for t in toks) / len(toks)
    return 3.0 <= mwl <= 10.0 and punct <= 0.1 and stop >= 0.03


def shingle_set(words: list[str], k: int = 3) -> set[tuple[str, ...]]:
    return {tuple(words[i : i + k]) for i in range(len(words) - k + 1)}


def jaccard(a: list[str], b: list[str]) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    return len(sa & sb) / len(sa | sb)


# ---------------------------------------------------------------------------
# curate: planted PDF corpus
# ---------------------------------------------------------------------------


@dataclass
class Corpus:
    pdfs: dict[int, bytes]              # doc_id -> PDF bytes
    words: dict[int, list[str]]         # doc_id -> source words
    family: dict[int, int]              # doc_id -> planted family (original's id)
    kind: dict[int, str]                # original / exact / near / gate_*
    near_jaccard: dict[int, float] = field(default_factory=dict)

    def text(self, doc_id: int) -> str:
        return "\n".join(pdf_lines(self.words[doc_id]))


GATE_KINDS = ("gate_short", "gate_long_words", "gate_punct", "gate_no_stop")


def _near_copy(rng: random.Random, vocab: list[str], words: list[str]) -> tuple[list[str], float]:
    """Substitute tokens until 3-shingle Jaccard with the source falls in
    [0.8, 0.95]; the target inside that range is drawn per copy."""
    target = rng.uniform(0.8, 0.93)
    out = list(words)
    positions = list(range(len(out)))
    rng.shuffle(positions)
    j = 1.0
    for p in positions:
        old, out[p] = out[p], rng.choice(vocab)
        jt = jaccard(words, out)
        if jt < 0.8:
            out[p] = old
            break
        j = jt
        if j <= target:
            break
    return out, j


def _gate_failure(rng: random.Random, vocab: list[str], kind: str) -> list[str]:
    if kind == "gate_short":
        return random_words(rng, vocab, rng.randint(8, 20))
    if kind == "gate_long_words":
        longv = [w + w[::-1] for w in rng.sample(vocab, 200)]
        return random_words(rng, [w for w in longv if len(w) >= 12], rng.randint(80, 140), 0.05)
    if kind == "gate_punct":
        return [w + "!?" for w in random_words(rng, vocab, rng.randint(80, 140))]
    return random_words(rng, vocab, rng.randint(80, 140), stop_share=0.0)


def make_corpus(seed: int, n_docs: int) -> Corpus:
    """``n_docs`` PDFs: ~81% originals, ~5% exact copies, ~8% near
    copies, ~6% gate failures, with doc ids shuffled so copies sit
    anywhere relative to their originals."""
    rng = random.Random(seed)
    vocab = vocabulary(rng, 4000)
    n_exact, n_near = n_docs * 5 // 100, n_docs * 8 // 100
    n_gate = n_docs * 6 // 100
    n_orig = n_docs - n_exact - n_near - n_gate
    ids = list(range(n_docs))
    rng.shuffle(ids)
    words: dict[int, list[str]] = {}
    family: dict[int, int] = {}
    kind: dict[int, str] = {}
    near_j: dict[int, float] = {}
    originals = ids[:n_orig]
    for d in originals:
        w = random_words(rng, vocab, rng.randint(80, 160))
        if sum(t in STOPWORDS for t in w) < 0.05 * len(w):
            w[: len(w) // 10] = rng.choices(STOPWORDS, k=len(w) // 10)
        words[d], family[d], kind[d] = w, d, "original"
    pos = n_orig
    for d in ids[pos : pos + n_exact]:
        src = rng.choice(originals)
        words[d], family[d], kind[d] = list(words[src]), src, "exact"
    pos += n_exact
    for d in ids[pos : pos + n_near]:
        src = rng.choice(originals)
        words[d], near_j[d] = _near_copy(rng, vocab, words[src])
        family[d], kind[d] = src, "near"
    pos += n_near
    for i, d in enumerate(ids[pos:]):
        k = GATE_KINDS[i % len(GATE_KINDS)]
        words[d], family[d], kind[d] = _gate_failure(rng, vocab, k), d, k
    pdfs = {d: pdf_bytes(pdf_lines(words[d])) for d in range(n_docs)}
    return Corpus(pdfs, words, family, kind, near_j)


def dedup_truth(corpus: Corpus, present: set[int]) -> dict[int, int]:
    """For the documents that reached dedup (decoded and gated): planted
    family -> number of present members beyond the first, i.e. how many
    of that family a perfect dedup removes."""
    sizes: dict[int, int] = {}
    for d in present:
        sizes[corpus.family[d]] = sizes.get(corpus.family[d], 0) + 1
    return {f: n - 1 for f, n in sizes.items() if n > 1}


def recall_precision(corpus: Corpus, present: set[int], kept: set[int]) -> tuple[float, float, int, int]:
    """(recall, precision, planted, removed). A removal counts as correct
    while its family still has more than one member removed-or-kept,
    i.e. up to ``members - 1`` removals per family."""
    truth = dedup_truth(corpus, present)
    removed = present - kept
    per_family: dict[int, int] = {}
    for d in removed:
        per_family[corpus.family[d]] = per_family.get(corpus.family[d], 0) + 1
    tp = sum(min(n, truth.get(f, 0)) for f, n in per_family.items())
    planted = sum(truth.values())
    recall = tp / planted if planted else 1.0
    precision = tp / len(removed) if removed else 1.0
    return recall, precision, planted, len(removed)


# ---------------------------------------------------------------------------
# ingest: fixture Liferay site
# ---------------------------------------------------------------------------

# Golden data-row counts of the reference's checked-in CSVs.
REFERENCE_ROWS = {"life": 1513, "life_list": 54, "nonlife": 4220, "health": 1819}
PRODUCT_TYPES = ("life", "life_list", "nonlife", "health")
INSURERS = (
    "Acme Life", "Bharat Assurance", "Coastal General", "Delta Health",
    "Everest Mutual", "Fortune Insure", "Ganga Life", "Harbor General",
)
# Bronze columns the ingest check compares, per type, in cell order
# after the status cell (cli.URL_PATHS / sources.http._PROJECTIONS).
COLUMNS = {
    "life": [
        "financial_year", "insurer", "product_name", "uin", "type_of_product",
        "launch_modification_date", "closing_withdrawal_date",
        "protection_savings_retirement", "par_nonpar", "individual_group", "remarks",
    ],
    "life_list": ["short_description", "last_updated", "sub_title"],
    "nonlife": [
        "s_no", "financial_year", "insurer", "product_name", "type_of_product",
        "uin", "date_of_approval",
    ],
    "health": ["financial_year", "insurer", "uin", "product_name", "date_of_approval"],
}
KEY = {"life": "uin", "life_list": "short_description", "nonlife": "uin", "health": "uin"}


@dataclass
class Listing:
    uid: str
    cells: list[str]              # all cells but the link cell
    archived_class: bool          # archive via row class (else via status text)
    link_style: str               # href / onclick / short
    link_text: str
    valid: bool                   # survives the F1/F2 guards
    new: bool = False             # published in phase 2


@dataclass
class Site:
    listings: dict[str, list[Listing]]       # phase-2 order, new ones flagged
    documents: dict[str, bytes]              # path -> PDF bytes
    corpora: dict[str, Corpus]               # type -> corpus behind its documents

    def rows(self, product_type: str, phase: int) -> list[Listing]:
        return [r for r in self.listings[product_type] if phase == 2 or not r.new]

    def doc_path(self, product_type: str, uid: str) -> str:
        return f"/documents/{product_type}/{uid}.pdf"


def _fy(rng: random.Random) -> str:
    y = rng.randint(2012, 2024)
    return f"FY {y}-{(y + 1) % 100:02d}"


def _date(rng: random.Random) -> str:
    return f"{rng.randint(1, 28):02d}-{rng.randint(1, 12):02d}-{rng.randint(2012, 2024)}"


def _product_cells(rng: random.Random, pt: str, uid: str, n: int, vocab: list[str]) -> list[str]:
    name = " ".join(w.capitalize() for w in rng.sample(vocab, 2)) + f" {uid[-4:]}"
    uin = f"{uid.upper()}V01"
    if pt == "life":
        return [
            _fy(rng), rng.choice(INSURERS), name, uin,
            rng.choice(("Unit Linked", "Traditional", "Pension")), _date(rng), _date(rng),
            rng.choice(("Protection", "Savings", "Retirement")),
            rng.choice(("Par", "Non-Par")), rng.choice(("Individual", "Group")),
            rng.choice(("", "Modified", "Withdrawn")),
        ]
    if pt == "life_list":
        return [f"List {name}", _date(rng), rng.choice(("Circular", "Notice", "Update"))]
    if pt == "nonlife":
        return [
            str(n), _fy(rng), rng.choice(INSURERS), name,
            rng.choice(("Retail", "Commercial", "Motor")), uin, _date(rng),
        ]
    return [_fy(rng), rng.choice(INSURERS), uin, name, _date(rng)]


def make_site(seed: int, scale: float, types: tuple[str, ...] = PRODUCT_TYPES) -> Site:
    """Listings for ``types`` at ``scale`` times the reference's row
    counts (life_list keeps its full 54 rows), with ~1% F1 and ~1% F2
    violators, ~15% archived rows, link styles 80% href / 10% onclick /
    10% short link text, and NEW_SHARE of extra valid listings
    inserted at random positions for phase 2. Row ``i`` of a type links
    to document ``i`` of a ``make_corpus`` corpus, so the documents
    carry that corpus's planted duplicates and gate failures."""
    rng = random.Random(seed)
    vocab = vocabulary(rng, 600)
    listings: dict[str, list[Listing]] = {}
    documents: dict[str, bytes] = {}
    corpora: dict[str, Corpus] = {}
    for pt in types:
        n = REFERENCE_ROWS[pt] if pt == "life_list" else max(PAGE_SIZE, round(REFERENCE_ROWS[pt] * scale))
        n_new = max(1, round(n * NEW_SHARE))
        rows: list[Listing] = []
        for i in range(n + n_new):
            uid = f"{pt[:2]}{i:05d}{rng.randrange(16**4):04x}"
            cells = _product_cells(rng, pt, uid, i + 1, vocab)
            status = rng.random()
            archived_class = status < 0.08
            cells.insert(0, "Archived" if 0.08 <= status < 0.15 else "")
            u = rng.random()
            style = "href" if u < 0.8 else "onclick" if u < 0.9 else "short"
            link_text = "dl" if style == "short" else " ".join(f"{cells[1][:20]} document".split())
            rows.append(Listing(uid, cells, archived_class, style, link_text, True, i >= n))
        # F1 (too few cells) and F2 (empty key) violators among the old rows
        for r in rng.sample(rows[:n], max(1, n // 100)):
            r.cells, r.valid = r.cells[:2], False
        for r in rng.sample([r for r in rows[:n] if r.valid], max(1, n // 100)):
            col = COLUMNS[pt].index(KEY[pt]) + 1
            r.cells[col], r.valid = "", False
        corpora[pt] = make_corpus(rng.randrange(2**31), len(rows))
        for i, r in enumerate(rows):
            documents[f"/documents/{pt}/{r.uid}.pdf"] = corpora[pt].pdfs[i]
        old, new = rows[:n], rows[n:]
        for r in new:
            old.insert(rng.randint(0, len(old)), r)
        listings[pt] = old
    return Site(listings, documents, corpora)


def doc_id_of(uid: str) -> int:
    """The corpus document id a listing's uid encodes."""
    return int(uid[2:7])


def expected_products(site: Site, base_url: str, product_type: str, phase: int) -> dict[str, dict]:
    """document_url -> expected bronze columns for the valid rows."""
    out = {}
    for r in site.rows(product_type, phase):
        if not r.valid:
            continue
        url = base_url + site.doc_path(product_type, r.uid)
        row = dict(zip(COLUMNS[product_type], r.cells[1:]))
        row["archive_status"] = "Archived" if r.archived_class or r.cells[0] == "Archived" else "Non-Archived"
        row["document_filename"] = r.link_text if r.link_style == "href" else f"{r.uid}.pdf"
        out[url] = row
    return out


def render_page(site: Site, base_url: str, product_type: str, phase: int, page: int, path: str) -> str:
    rows = site.rows(product_type, phase)
    total = len(rows)
    chunk = rows[(page - 1) * PAGE_SIZE : page * PAGE_SIZE]
    trs = []
    for r in chunk:
        url = base_url + site.doc_path(product_type, r.uid)
        if r.link_style == "onclick":
            link = f"<a href=\"#\" onclick=\"window.open('{url}')\">Download</a>"
        else:
            link = f'<a href="{url}">{r.link_text}</a>'
        cls = ' class="archive-row"' if r.archived_class else ""
        tds = "".join(f"<td>{c}</td>" for c in r.cells)
        if product_type == "health" and len(r.cells) > 2:
            tds += f"<td>{link}</td><td></td>"
        else:
            tds += f"<td>{link}</td>"
        trs.append(f"<tr{cls}>{tds}</tr>")
    last = max(1, -(-total // PAGE_SIZE))
    pager = "".join(
        f'<a href="{path}?_cur={p}">{p}</a>' for p in sorted({1, max(1, page - 1), min(last, page + 1), last})
    )
    first = (page - 1) * PAGE_SIZE + 1 if chunk else 0
    return (
        "<html><head><title>IRDAI products</title></head><body>"
        '<div class="portlet-body"><div class="portlet">'
        f"<p>Showing {first} to {(page - 1) * PAGE_SIZE + len(chunk)} of {total:,} results</p>"
        '<table class="table table-bordered"><thead><tr><th>Status</th><th>Details</th></tr></thead>'
        f"<tbody>{''.join(trs)}</tbody></table>"
        f'<div class="pagination">{pager}</div></div></div></body></html>'
    )

