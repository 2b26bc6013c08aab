"""Seeded input generators for the three benchmark workloads.

Everything here is a pure function of the seed: the same seed writes the
same bytes.  The engine only ever sees the files written here; the
generators also return the ground truth (paragraph lists, planted
duplicate pairs) that the output checks need.
"""

from __future__ import annotations

import csv
import os
import zlib
from dataclasses import dataclass, field
from statistics import NormalDist

import numpy as np

WORDS = (
    "the company reports total scope emissions energy consumption water use waste "
    "intensity target baseline reduction renewable electricity production revenue "
    "capital expenditure operating segment carbon dioxide methane flaring upstream "
    "downstream refinery chemicals climate strategy governance board risk transition "
    "physical scenario net zero ambition portfolio assets investment low carbon "
    "hydrogen capture storage efficiency program disclosure framework sustainability "
    "report year group subsidiary operations facilities offshore onshore pipeline "
    "volume hydrocarbons barrels equivalent gas oil liquids"
).split()
UNITS = ("tonnes", "MWh", "tCO2e", "barrels")
SHORT_PARAGRAPHS = ("Page {n}", "Table {n}.1", "Figure {n}", "{n} Annual Report", "Notes", "Contents")

# Reference corpus shape (BASELINE.md): 144 PDFs, mean 157 / median 127 /
# max 653 pages.  A log-normal with that median and mean, scaled down.
PAGE_MEDIAN, PAGE_MEAN, PAGE_MAX = 127, 157, 653
PAGE_SCALE = 4

N_KPI_QUESTIONS = 12  # OG + TEXT questions the inference fans out to


def _sentence(rng: np.random.Generator, n_words: int) -> str:
    words = rng.choice(WORDS, size=n_words)
    return " ".join(words)


def _long_paragraph(rng: np.random.Generator) -> str:
    text = _sentence(rng, int(rng.integers(8, 28)))
    if rng.random() < 0.5:
        value = int(rng.integers(10, 99999))
        text += f" {value} {UNITS[int(rng.integers(len(UNITS)))]}"
    if rng.random() < 0.15:
        text += " (scope 1 and 2)"
    return text


def page_counts(rng: np.random.Generator, n: int, scale: int = PAGE_SCALE) -> list[int]:
    """Page counts of ``n`` reports: the log-normal's quantiles at
    (k + 0.5) / n with the longest report at the reference maximum, scaled
    and shuffled.  Every seed draws the same tail, so runs cost alike and
    the slowest document sets the job's time."""
    mu = np.log(PAGE_MEDIAN)
    sigma = np.sqrt(2 * np.log(PAGE_MEAN / PAGE_MEDIAN))
    z = [NormalDist().inv_cdf((k + 0.5) / n) for k in range(n)]
    pages = [float(np.exp(mu + sigma * x)) for x in z[:-1]] + [float(PAGE_MAX)]
    counts = [max(1, int(round(p / scale))) for p in pages]
    rng.shuffle(counts)
    return counts


# --------------------------------------------------------------------------
# KPI mapping


def write_kpi_mapping(path: str) -> list[tuple[float, str, bool]]:
    """FIXTURES.md §2 shape.  Returns the (kpi_id, question, add_year) rows
    that ``questions_for_sector(kpi, ["OG"], "TEXT")`` must select."""
    rows, selected = [], []
    for i in range(N_KPI_QUESTIONS + 4):
        kpi_id = float(i) if i % 5 else i + 0.1
        question = f"What is the total {WORDS[(7 * i) % len(WORDS)]} {WORDS[(3 * i + 1) % len(WORDS)]} reported?"
        add_year = i % 3 == 0
        if i < N_KPI_QUESTIONS:
            sectors, category = ("OG, CM" if i % 2 else "OG"), ("TEXT" if i % 4 else "TEXT, TABLE")
            selected.append((kpi_id, question, add_year))
        else:  # outside the sector or the data type: filtered out
            sectors, category = ("CM, CU", "TEXT") if i % 2 else ("OG", "TABLE")
        rows.append((kpi_id, question, sectors, "TRUE" if add_year else "FALSE", category))
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["kpi_id", "question", "sectors", "add_year", "kpi_category"])
        w.writerows(rows)
    return selected


# --------------------------------------------------------------------------
# PDF corpus (pdf_inference)


def _pdf_escape(s: str) -> str:
    return s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")


def _content_stream(rng: np.random.Generator, paragraphs: list[str]) -> bytes:
    """Text operators for one page: each paragraph is one or two lines
    (Tj, or a TJ array); an empty ``() Tj`` separates paragraphs."""
    ops = ["BT /F1 10 Tf 72 720 Td 12 TL"]
    for i, para in enumerate(paragraphs):
        if i:
            ops.append("() Tj T*")
        for line in para.split("\n"):
            words = line.split(" ")
            if len(words) > 3 and rng.random() < 0.3:
                cut = len(words) // 2
                a, b = " ".join(words[:cut]) + " ", " ".join(words[cut:])
                ops.append(f"[({_pdf_escape(a)}) -120 ({_pdf_escape(b)})] TJ T*")
            else:
                ops.append(f"({_pdf_escape(line)}) Tj T*")
    ops.append("ET")
    return "\n".join(ops).encode("latin-1")


def _pdf_bytes(streams: list[bytes], eol: bytes = b"\r\n") -> bytes:
    n = len(streams)
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [" + b" ".join(f"{4 + 2 * i} 0 R".encode() for i in range(n))
        + f"] /Count {n} >>".encode(),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    for i, raw in enumerate(streams):
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents {5 + 2 * i} 0 R "
            "/Resources << /Font << /F1 3 0 R >> >> >>".encode()
        )
        data = zlib.compress(raw, 6)
        # CRLF before endstream by default: the engine's stdlib decoder strips
        # an optional CR in front of the LF, so after a bare LF it eats a
        # compressed stream's final byte when that byte is CR (see
        # ``write_bare_lf_probe``)
        objs.append(
            f"<< /Length {len(data)} /Filter /FlateDecode >>\nstream\n".encode()
            + data + eol + b"endstream"
        )
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs):
        offsets.append(len(out))
        out += f"{i + 1} 0 obj\n".encode() + body + b"\nendobj\n"
    xref = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    out += b"".join(f"{o:010d} 00000 n \n".encode() for o in offsets)
    out += f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\nstartxref\n{xref}\n%%EOF\n".encode()
    return bytes(out)


@dataclass
class PdfBatch:
    directory: str
    names: list[str]
    # extraction ground truth: (pdf_name, page, paragraph) for every
    # paragraph with >= 30 letters, and the total generated paragraph count
    kept: list[tuple[str, int, str]] = field(default_factory=list)
    generated: int = 0
    pages: int = 0


def write_pdf_batch(root: str, seed: int, n_pdfs: int) -> PdfBatch:
    rng = np.random.default_rng([seed, 1])
    batch = PdfBatch(root, [])
    for p, n_pages in enumerate(page_counts(rng, n_pdfs)):
        name = f"report_{seed}_{p:03d}.pdf"
        streams = []
        for page in range(n_pages):
            paragraphs = []
            for _ in range(int(rng.integers(2, 6))):
                if rng.random() < 0.15:
                    tpl = SHORT_PARAGRAPHS[int(rng.integers(len(SHORT_PARAGRAPHS)))]
                    para = tpl.format(n=int(rng.integers(1, 400)))
                else:
                    para = _long_paragraph(rng)
                    if rng.random() < 0.2:  # a paragraph wrapped over two lines
                        words = para.split(" ")
                        para = " ".join(words[:4]) + "\n" + " ".join(words[4:])
                paragraphs.append(para)
                batch.generated += 1
                if sum(ch.isalpha() for ch in para) >= 30:
                    batch.kept.append((name, page, para))
            streams.append(_content_stream(rng, paragraphs))
        with open(os.path.join(root, name), "wb") as f:
            f.write(_pdf_bytes(streams))
        batch.names.append(name)
        batch.pages += n_pages
    return batch


def write_bare_lf_probe(root: str, seed: int, n_pages: int = 16, n_cr: int = 4) -> list[tuple[int, str]]:
    """A report with a bare LF before each ``endstream``, as many PDF
    writers emit it.  The compressed streams of ``n_cr`` pages end in a CR
    byte, the case the engine's decoder misreads.  Returns the (page,
    paragraph) pairs a correct extraction yields."""
    rng = np.random.default_rng([seed, 5])
    streams, kept = [], []
    for page in range(n_pages):
        want_cr = page % (n_pages // n_cr) == 1
        while True:
            paragraphs = [_long_paragraph(rng) for _ in range(int(rng.integers(2, 5)))]
            raw = _content_stream(rng, paragraphs)
            if (zlib.compress(raw, 6)[-1] == 0x0D) == want_cr:
                break
        streams.append(raw)
        kept += [(page, p) for p in paragraphs if sum(ch.isalpha() for ch in p) >= 30]
    with open(os.path.join(root, f"probe_{seed}.pdf"), "wb") as f:
        f.write(_pdf_bytes(streams, eol=b"\n"))
    return kept


# --------------------------------------------------------------------------
# Training-data curation inputs


@dataclass
class CurationInputs:
    annotations_dir: str
    pool_path: str
    n_paragraphs: int
    # planted near-duplicate pairs (doc ids, d1 < d2): the copy and its source
    planted: set[tuple[int, int]]
    positive_pages: set[tuple[str, int]]
    n_annotations: int


ANNOTATION_COLUMNS = [
    "company", "source_file", "source_page", "kpi_id", "year", "answer",
    "data_type", "relevant_paragraphs", "sector",
]


def _near_copy(rng: np.random.Generator, text: str) -> str:
    """A near-duplicate: the same boilerplate with one word swapped."""
    words = text.split(" ")
    i = int(rng.integers(len(words)))
    words[i] = WORDS[int(rng.integers(len(WORDS)))]
    return " ".join(words)


def write_curation_inputs(
    root: str, seed: int, n_paragraphs: int, dup_share: float, n_docs: int, kpis: list
) -> CurationInputs:
    """Paragraph pool (doc_id, pdf_name, page, paragraph) with a planted
    share of near-duplicate boilerplate, plus three annotation workbooks
    (CSV exports) carrying the FIXTURES.md §1 dirty cases."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 2])
    docs = [f"annual_{seed}_{d:03d}.pdf" for d in range(n_docs)]
    ids, names, pages, texts = [], [], [], []
    planted = set()
    n_orig = int(n_paragraphs * (1 - dup_share))
    for i in range(n_paragraphs):
        doc = int(rng.integers(n_docs))
        if i < n_orig:
            # long enough (~40 words) that one swapped word keeps the 3-gram
            # Jaccard of a copy above the 0.5 threshold
            text = _sentence(rng, int(rng.integers(36, 48)))
        else:  # yearly reports repeat text: copy an earlier paragraph
            src = int(rng.integers(n_orig))
            text = _near_copy(rng, texts[src])
            planted.add((src, i))
        ids.append(i)
        names.append(docs[doc])
        pages.append(int(rng.integers(3, 40)))
        texts.append(text)
    pool_path = os.path.join(root, "paragraphs.parquet")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "pdf_name": names,
                "page": pa.array(pages, pa.int32()),
                "paragraph": texts,
            }
        ),
        pool_path,
    )

    ann_dir = os.path.join(root, "annotations")
    os.makedirs(ann_dir)
    header = ANNOTATION_COLUMNS
    positive_pages = set()
    n_rows = max(30, n_paragraphs // 40)
    for wb in range(3):
        rows = []
        for r in range(n_rows):
            doc = docs[int(rng.integers(n_docs))]
            kpi_id, _, _ = kpis[int(rng.integers(len(kpis)))]
            page = int(rng.integers(3, 40))
            paras = [_long_paragraph(rng) for _ in range(int(rng.integers(1, 3)))]
            value = paras[0].split(" ")[-2] if paras[0].split(" ")[-1] in UNITS else "2021"
            source_file = doc
            source_page = f"[{page}]"
            data_type = "TEXT"
            company = f"Company{doc[-7:-4]}"
            year = "2020.0"
            case = r % 12
            if case == 0:
                source_file = doc[:-4]  # missing .pdf
            elif case == 1:
                source_file = doc[:-4] + ",pdf"
            elif case == 2:
                source_file = doc + "  "  # trailing spaces: repaired to x.pdf.pdf
            elif case == 3:
                source_page = str(page)  # unparseable: dropped
            elif case == 4 and len(paras) == 1:
                source_page = f"[{page}, {page + 1:02d}]"
                paras.append(_long_paragraph(rng))
            elif case == 5:
                company = "CEZ"  # excluded company
            elif case == 6:
                kpi_id = 999.0  # invalid KPI id
            elif case == 7:
                data_type = "TEXT "  # stray whitespace
            elif case == 8:
                year = "n/a"  # non-numeric year
            elif case == 9:
                data_type = "TABLE"
            quoted = [p.replace("\n", " ") for p in paras]
            if case == 10:
                rel = "[“" + "”, “".join(quoted) + "”]"  # curly quotes
            elif case == 11:
                rel = '{"' + '","'.join(quoted) + '"]'  # bracket typo, "," delimiter
            elif r % 7 == 0:
                rel = quoted[0]  # plain unbracketed string: dropped
            else:
                rel = '["' + '", "'.join(quoted) + '"]'
            plain = rel == quoted[0]
            if case not in (3, 5, 6, 8, 9) and not plain:
                # rows that certainly yield positives: their pages (0-based,
                # repaired file name) must never supply a negative
                repaired = doc + ".pdf" if case == 2 else doc
                pages_used = [page, page + 1] if source_page.startswith(f"[{page}, ") else [page]
                for pg in pages_used:
                    positive_pages.add((repaired, pg - 1))
            rows.append(
                [company, source_file, source_page, kpi_id, year, value, data_type, rel,
                 "OG" if wb % 2 else "og"]
            )
        with open(os.path.join(ann_dir, f"annotator{wb}.csv"), "w", newline="") as f:
            # the engine's own CSV dialect (what ``sources.files.write_csv``
            # writes): quotes inside a quoted field are backslash-escaped
            w = csv.writer(f, doublequote=False, escapechar="\\")
            # both capitalizations of the optional sector column
            w.writerow(header[:-1] + (["Sector"] if wb == 1 else ["sector"]))
            w.writerows(rows)
    return CurationInputs(ann_dir, pool_path, n_paragraphs, planted, positive_pages, 3 * n_rows)


def write_rfc4180_probe(path: str, seed: int, n_rows: int = 24) -> list[list[str]]:
    """An annotation workbook as spreadsheets export it: RFC 4180 CSV, in
    which a quote inside a quoted field is doubled.  Returns its rows."""
    rng = np.random.default_rng([seed, 6])
    rows = []
    for r in range(n_rows):
        paras = [_long_paragraph(rng) for _ in range(int(rng.integers(1, 3)))]
        rows.append([
            f"Company{r:03d}", f"annual_{seed}_{r:03d}.pdf", f"[{r + 3}]", str(float(r % N_KPI_QUESTIONS)),
            "2020.0", "2021", "TEXT", '["' + '", "'.join(paras) + '"]', "OG",
        ])
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(ANNOTATION_COLUMNS)
        w.writerows(rows)
    return rows


# --------------------------------------------------------------------------
# Star schema (the dashboard's catalog queries)

NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1), ("EGYPT", 4),
    ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3), ("INDIA", 2), ("INDONESIA", 2),
    ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0),
    ("MOROCCO", 0), ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1),
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def write_star_schema(root: str, seed: int, n_orders: int) -> None:
    """TPC-H-shaped tables (TESTDATA.md schema) plus ``events``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp, n_part = max(10, n_orders // 10), max(10, n_orders // 150), max(10, n_orders // 7)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(root, f"{name}.parquet"))

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    put(
        "nation",
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [n for n, _ in NATIONS],
            "n_regionkey": pa.array([r for _, r in NATIONS], pa.int32()),
        },
    )
    put(
        "customer",
        {
            "c_custkey": pa.array(np.arange(1, n_cust + 1), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust).tolist(),
        },
    )
    put(
        "supplier",
        {
            "s_suppkey": pa.array(np.arange(1, n_supp + 1), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
        },
    )
    put(
        "part",
        {
            "p_partkey": pa.array(np.arange(1, n_part + 1), pa.int64()),
            "p_name": [f"part {i}" for i in range(1, n_part + 1)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, n_part)],
            "p_type": rng.choice(["STANDARD BRASS", "SMALL STEEL", "LARGE COPPER", "ECONOMY TIN"], n_part).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(rng.uniform(900, 2000, n_part), 2),
        },
    )
    epoch = np.datetime64("1992-01-01")
    odate = epoch + rng.integers(0, 2400, n_orders).astype("timedelta64[D]")
    okeys = np.arange(1, n_orders + 1) * 4
    n_lines = rng.integers(1, 8, n_orders)
    l_okey = np.repeat(okeys, n_lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in n_lines])
    n_li = len(l_okey)
    qty = rng.integers(1, 51, n_li).astype(float)
    price = np.round(qty * rng.uniform(900, 2000, n_li), 2)
    disc = np.round(rng.integers(0, 11, n_li) / 100.0, 2)
    ship = np.repeat(odate, n_lines) + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    shipped = ship <= np.datetime64("1995-06-17")
    returnflag = np.where(shipped, rng.choice(["R", "A"], n_li), "N")
    totals = np.zeros(n_orders)
    np.add.at(totals, np.repeat(np.arange(n_orders), n_lines), price)
    put(
        "orders",
        {
            "o_orderkey": pa.array(okeys, pa.int64()),
            "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_orders), pa.int64()),
            "o_orderstatus": rng.choice(["O", "F", "P"], n_orders).tolist(),
            "o_totalprice": np.round(totals, 2),
            "o_orderdate": pa.array(odate.astype("datetime64[us]")),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders).tolist(),
        },
    )
    put(
        "lineitem",
        {
            "l_orderkey": pa.array(l_okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(1, n_part + 1, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_li), pa.int64()),
            "l_linenumber": pa.array(l_num, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": disc,
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": returnflag.tolist(),
            "l_linestatus": np.where(shipped, "F", "O").tolist(),
            "l_shipdate": pa.array(ship.astype("datetime64[us]")),
        },
    )
    n_ev = n_orders
    ts = np.datetime64("2024-01-01T00:00:00") + rng.integers(0, 14 * 86400, n_ev).astype("timedelta64[s]")
    put(
        "events",
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(np.sort(ts).astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(1, 500, n_ev), pa.int64()),
            "event_type": rng.choice(["view", "click", "purchase", "search"], n_ev).tolist(),
            "value": np.round(rng.uniform(0, 100, n_ev), 2),
            "props": ["{}"] * n_ev,
        },
    )
