"""Seeded input generator for the KG-construction benchmark.

Everything is produced in this one process with pyarrow before any timing
starts: page files in the shape `sources.pages.PAGES_SCHEMA` reads, plus the
alias dictionary. The same seed gives byte-identical inputs.

Shapes:

* docs pages (kg_batch): CSV pages of 10 rows x 5 columns
  (doc_id, lang, source, n_chars, text) with csv-quoted free text - commas,
  quotes and line breaks inside the text cell. `source` names one of a few
  hub sources under a varying surface form (raw, upper-cased, "The <x>
  Archive"), or a one-off independent source that links to nothing.
* chain pages (kg_chain): narrow rows (row_id, a, b, cls, sup). `a` and `b`
  name two neighbouring entities of one long chain, so canonicalisation
  sees high-diameter components; `cls` types the row subject with a class
  and `sup` asserts that class's parent, so the committed graph carries an
  rdfs:subClassOf taxonomy made of deep class chains.
"""

from __future__ import annotations

import datetime as _dt
import io
import csv
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

PAGES_ARROW_SCHEMA = pa.schema([
    ("url", pa.string()),
    # microsecond precision: Spark's TimestampType reads it back unchanged
    ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])
ALIASES_ARROW_SCHEMA = pa.schema([
    ("alias", pa.string()),
    ("entity_id", pa.int64()),
    ("entity_uri", pa.string()),
])

DOCS_COLUMNS = ["doc_id", "lang", "source", "n_chars", "text"]
CHAIN_COLUMNS = ["row_id", "a", "b", "cls", "sup"]
DOCS_PER_PAGE = 10
CHAIN_ROWS_PER_PAGE = 20

KB = "http://kb.example.org/"
_LANGS = ["en", "en", "en", "de", "fr", "es", "nl"]
_WORDS = ("graph table crawl page entity source archive record value "
          "schema column triple index linked open data quote comma "
          "market river city museum library station report season "
          "north south early late first final general local public").split()
_T0 = _dt.datetime(2026, 1, 1)


def _csv_text(header: list[str], rows: list[list]) -> str:
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(header)
    w.writerows(rows)
    return buf.getvalue()


def _free_text(rng: random.Random) -> str:
    """ASCII prose with the characters csv quoting must handle."""
    parts = []
    for _ in range(rng.randint(6, 40)):
        w = rng.choice(_WORDS)
        r = rng.random()
        if r < 0.08:
            w += ","
        elif r < 0.12:
            w = f'"{w}"'
        elif r < 0.14:
            w += ".\n"
        parts.append(w)
    return " ".join(parts).strip()


def hub_names(n_hubs: int) -> list[str]:
    return [f"source{h:02d}.org" for h in range(n_hubs)]


def docs_aliases(n_hubs: int) -> pa.Table:
    """Two surface forms per hub source, each with its own URI, sharing one
    entity id - canonicalisation must merge them."""
    rows = {"alias": [], "entity_id": [], "entity_uri": []}
    for h, name in enumerate(hub_names(n_hubs)):
        for alias, uri in ((name, f"{KB}src/{name}"),
                           (f"the {name} archive",
                            f"{KB}src/{name}#archive")):
            rows["alias"].append(alias)
            rows["entity_id"].append(h)
            rows["entity_uri"].append(uri)
    return pa.table(rows, schema=ALIASES_ARROW_SCHEMA)


def _docs_rows(rng: random.Random, n_docs: int,
               hubs: list[str]) -> list[list]:
    out = []
    for doc_id in range(n_docs):
        r = rng.random()
        if r < 0.1:
            source = f"independent-{doc_id}.net"
        else:
            name = rng.choice(hubs)
            source = rng.choice([name, name.upper(),
                                 f"The {name} Archive"])
        text = _free_text(rng)
        out.append([doc_id, rng.choice(_LANGS), source, len(text), text])
    return out


def _pages(rows: list[list], header: list[str], per_page: int,
           url_prefix: str) -> pa.Table:
    cols = {"url": [], "warc_ts": [], "html": [], "text": [], "lang": []}
    for i in range(0, len(rows), per_page):
        page = i // per_page
        cols["url"].append(f"{url_prefix}{page}.csv")
        cols["warc_ts"].append(_T0 + _dt.timedelta(seconds=page))
        cols["html"].append(None)
        cols["text"].append(_csv_text(header, rows[i:i + per_page]))
        cols["lang"].append("en")
    return pa.table(cols, schema=PAGES_ARROW_SCHEMA)


def docs_pages(seed: int, n_docs: int, n_hubs: int) -> pa.Table:
    """`n_docs` docs (a multiple of DOCS_PER_PAGE) as CSV pages."""
    rng = random.Random(f"docs/{seed}")
    rows = _docs_rows(rng, n_docs, hub_names(n_hubs))
    return _pages(rows, DOCS_COLUMNS, DOCS_PER_PAGE,
                  "http://pages.example.org/docs/")


def chain_inputs(seed: int, n_rows: int, chain_len: int, n_classes: int,
                 tax_depth: int) -> tuple[pa.Table, pa.Table]:
    """(pages, aliases) for kg_chain.

    Entities form chains of `chain_len`; row r links two neighbours of one
    chain, so a chain of k entities is covered by k-1 rows. Classes form
    n_classes / tax_depth parent chains of depth `tax_depth`; each row
    types its subject with a class, drawn so that every class appears once
    per n_classes rows, and asserts that class's parent (empty for a
    root)."""
    rng = random.Random(f"chain/{seed}")
    links_per_chain = chain_len - 1
    n_chains = -(-n_rows // links_per_chain)
    classes = list(range(n_classes))
    rng.shuffle(classes)
    rows = []
    for r in range(n_rows):
        chain, k = divmod(r, links_per_chain)
        ent = chain * chain_len + k
        cls = classes[r % n_classes]
        sup = "" if cls % tax_depth == 0 else str(cls - 1)
        rows.append([r, f"Entity {ent:07d}", f"ENTITY {ent + 1:07d}",
                     cls, sup])
    rng.shuffle(rows)
    pages = _pages(rows, CHAIN_COLUMNS, CHAIN_ROWS_PER_PAGE,
                   "http://pages.example.org/chain/")
    n_ent = n_chains * chain_len
    aliases = pa.table({
        "alias": [f"entity {e:07d}" for e in range(n_ent)],
        "entity_id": list(range(n_ent)),
        "entity_uri": [f"{KB}ent/{e}" for e in range(n_ent)],
    }, schema=ALIASES_ARROW_SCHEMA)
    return pages, aliases


def write_stream_files(pages: pa.Table, input_dir: str, n_files: int,
                       pages_per_file: int) -> list[pa.Table]:
    """The first n_files * pages_per_file pages as one parquet file per
    micro-batch; modification times increase with the file index so the
    file source drains them in order. Returns the per-file tables (file i
    is micro-batch i)."""
    os.makedirs(input_dir, exist_ok=True)
    out = []
    for i in range(n_files):
        t = pages.slice(i * pages_per_file, pages_per_file)
        path = os.path.join(input_dir, f"part-{i:05d}.parquet")
        pq.write_table(t, path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
        out.append(t)
    return out
