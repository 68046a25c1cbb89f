"""Seeded HPV workbook generator and an independent model of the pipeline.

The generator writes reference-shaped ``.xlsx`` workbooks: a
``Local_authority`` sheet with an A1 banner, the header on row 3 and one
row per local authority (LA). The inputs carry the reference's quirks:

- an A1 banner per file, one of which does not match the academic-year
  pattern;
- ``%`` and ``2 doses`` columns, which the pipeline drops;
- ``*``, ``[E]`` and ``[DS]`` in measures and in the LA column;
- born-null (empty) measures and dirty LA names (case, padding);
- column sets that vary by year (year groups, and girls-only years);
- one workbook per academic year, so (academic year, LA) pairs are
  distinct and no file is double counted.

``model_rows`` computes the committed table from the generated grids
without Spark, from the documented semantics of ``HpvPipeline``: initcap
names, drop of rows with a null measure before the sentinel scrub, SQL
sums (all-null groups give null), and the Both then All rollups.
``fingerprint`` hashes rows the same way the benchmark's JVM side hashes
the table it reads back.
"""

import hashlib
import os
import random
import re
import zipfile
from xml.sax.saxutils import escape

SHEET = "Local_authority"
SENTINELS = ("*", "[E]", "[DS]")
EXTRACT_DATE = "2026-01-15"

_TOWNS = (
    "Camden", "Islington", "Enfield", "Barnet", "Hackney", "Lambeth",
    "Croydon", "Bromley", "Sutton", "Merton", "Ealing", "Brent", "Harrow",
    "Hounslow", "Bexley", "Havering", "Redbridge", "Newham", "Southwark",
    "Lewisham", "Greenwich", "Wandsworth", "Richmond Upon Thames",
    "Kingston Upon Thames", "King's Lynn", "Stockton-on-tees", "Blackpool",
    "Bolton", "Wigan", "Sefton", "Knowsley", "Halton", "Trafford", "Rutland",
)
_QUALIFIERS = ("", "North ", "South ", "East ", "West ")
_BANNERS = (
    "HPV vaccination coverage by local authority, September {a} to August {b}",
    "Table 2: HPV coverage in England, September {a} to August {b}",
)
_UNMATCHED_BANNER = "HPV vaccination coverage by local authority (provisional)"


def la_pool():
    """Canonical LA names; each is a fixed point of the name cleaning."""
    return [q + t for t in _TOWNS for q in _QUALIFIERS]


def _dirty(name, rng):
    """A variant of `name` that cleans back to it: case and padding only."""
    variant = rng.choice((name, name.upper(), name.lower(), name.swapcase()))
    return " " * rng.randint(0, 2) + variant + " " * rng.randint(0, 2)


def _measure_cell(value, rng):
    r = rng.random()
    if r < 0.02:
        return rng.choice(SENTINELS)
    if r < 0.035:
        return ""  # born-null
    if r < 0.06:
        return " %d " % value  # number stored as padded text
    return value


def generate_grids(seed, workbooks, las, last_year=2025):
    """Sheet grids (row 0 = sheet row 1), keyed by file name."""
    rng = random.Random(seed)
    pool = la_pool()
    years = list(range(last_year - workbooks + 1, last_year + 1))
    unmatched = rng.randrange(workbooks)
    first_key_sentinel = rng.randrange(len(SENTINELS))
    grids = {}
    for i, year in enumerate(years):
        banner = (_UNMATCHED_BANNER if i == unmatched
                  else rng.choice(_BANNERS).format(a=year - 1, b=year))
        # the column set is a function of the year, so every seed does the
        # same amount of work: boys joined in 2019/20, years 9-10 later
        groups = (8,) if year <= 2017 else (8, 9) if year <= 2021 else (8, 9, 10)
        sexes = ("females",) if year <= 2019 else ("females", "males")
        columns = []
        for g in groups:
            for sex in sexes:
                columns.append(("Year %d %s: Number" % (g, sex), g, sex, "total"))
                columns.append(("Year %d %s: Number %s" % (
                    g, sex, rng.choice(("vaccinated", "Vaccinated"))), g, sex, "vacc"))
                if rng.random() < 0.7:
                    columns.append(("Year %d %s: %% vaccinated" % (g, sex), g, sex, "pct"))
                if rng.random() < 0.5:
                    columns.append(("Year %d %s: Number with 2 doses" % (g, sex), g, sex, "two"))
        rng.shuffle(columns)
        names = [_dirty(n, rng) for n in rng.sample(pool, min(las, len(pool)))]
        key_sentinels = [SENTINELS[(first_key_sentinel + i) % len(SENTINELS)]]
        rows = []
        for la in names + key_sentinels:
            counts = {}
            cells = [la]
            for _, g, sex, kind in columns:
                if (g, sex) not in counts:
                    t = rng.randint(200, 4000)
                    counts[(g, sex)] = (t, rng.randint(0, t))
                total, vacc = counts[(g, sex)]
                if kind == "total":
                    cells.append(_measure_cell(total, rng))
                elif kind == "vacc":
                    cells.append(_measure_cell(vacc, rng))
                elif kind == "pct":
                    cells.append(rng.choice(("%.1f" % (100.0 * vacc / total), "*")))
                else:
                    cells.append(rng.randint(0, vacc))
            rows.append(cells)
        header = ["Local authority"] + [c[0] for c in columns]
        grids["hpv_ay%d.xlsx" % year] = [[banner], [], header] + rows
    return grids


def _col_letters(i):
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def xlsx_parts(grid):
    """OOXML parts of a one-sheet workbook; strings go to sharedStrings."""
    strings, index = [], {}

    def sst(s):
        if s not in index:
            index[s] = len(strings)
            strings.append(s)
        return index[s]

    rows_xml = []
    for r, row in enumerate(grid):
        cells = []
        for c, v in enumerate(row):
            ref = "%s%d" % (_col_letters(c), r + 1)
            if v == "" or v is None:
                continue
            if isinstance(v, int):
                cells.append('<c r="%s"><v>%d</v></c>' % (ref, v))
            else:
                cells.append('<c r="%s" t="s"><v>%d</v></c>' % (ref, sst(v)))
        if cells:
            rows_xml.append('<row r="%d">%s</row>' % (r + 1, "".join(cells)))
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    sheet = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
             '<worksheet xmlns="%s"><sheetData>%s</sheetData></worksheet>' % (ns, "".join(rows_xml)))
    shared = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
              '<sst xmlns="%s" count="%d" uniqueCount="%d">%s</sst>' % (
                  ns, len(strings), len(strings),
                  "".join('<si><t xml:space="preserve">%s</t></si>' % escape(s) for s in strings)))
    return [
        ("[Content_Types].xml",
         '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
         '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
         '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
         '<Default Extension="xml" ContentType="application/xml"/>'
         '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
         '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
         '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
         '</Types>'),
        ("_rels/.rels",
         '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
         '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
         '<Relationship Id="rId1" Type="%s/officeDocument" Target="xl/workbook.xml"/>'
         '</Relationships>' % rel),
        ("xl/workbook.xml",
         '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
         '<workbook xmlns="%s" xmlns:r="%s"><sheets>'
         '<sheet name="%s" sheetId="1" r:id="rId1"/></sheets></workbook>' % (ns, rel, SHEET)),
        ("xl/_rels/workbook.xml.rels",
         '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
         '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
         '<Relationship Id="rId1" Type="%s/worksheet" Target="worksheets/sheet1.xml"/>'
         '<Relationship Id="rId2" Type="%s/sharedStrings" Target="sharedStrings.xml"/>'
         '</Relationships>' % (rel, rel)),
        ("xl/worksheets/sheet1.xml", sheet),
        ("xl/sharedStrings.xml", shared),
    ]


def write_workbooks(grids, out_dir):
    """Write each grid as an .xlsx; byte-identical for identical grids."""
    os.makedirs(out_dir, exist_ok=True)
    for name, grid in sorted(grids.items()):
        with zipfile.ZipFile(os.path.join(out_dir, name), "w", zipfile.ZIP_DEFLATED) as z:
            for part, text in xlsx_parts(grid):
                info = zipfile.ZipInfo(part, date_time=(1980, 1, 1, 0, 0, 0))
                info.compress_type = zipfile.ZIP_DEFLATED
                z.writestr(info, text.encode("utf-8"))


def cell_count(grids):
    """Cells the reader parses: the non-empty cells of every grid."""
    return sum(1 for g in grids.values() for row in g for v in row if v != "" and v is not None)


# ---- the model ----

def _initcap(s):
    """Spark initcap: lower-case, then upper-case the first letter of each
    space-separated word."""
    out, prev = [], " "
    for ch in s.lower():
        out.append(ch.upper() if prev == " " else ch)
        prev = ch
    return "".join(out)


def _cell_text(v):
    if v is None or v == "":
        return None
    return str(v)


def _sum(values):
    present = [v for v in values if v is not None]
    return sum(present) if present else None


def model_rows(grids, extract_date=EXTRACT_DATE):
    """The committed table as a list of 8-tuples in output column order."""
    base = []
    for grid in grids.values():
        a1 = _cell_text(grid[0][0] if grid and grid[0] else None) or ""
        tokens = a1.split()
        end = int(tokens[-1]) if tokens and re.fullmatch(r"[+-]?\d+", tokens[-1]) else None
        m = re.search(r"[A-Za-z]+ \d{4} to [A-Za-z]+ \d{4}", a1)
        text = m.group(0) if m else None
        header = [(_cell_text(c) or "").strip(" ") for c in grid[2]]
        cells = {}
        for row in grid[3:]:
            row = list(row) + [""] * (len(header) - len(row))
            raw = _cell_text(row[0])
            la = _initcap(raw.strip(" ")) if raw is not None else None
            for name, value in zip(header[1:], row[1:]):
                if "%" in name or "2 doses" in name:
                    continue
                digits = re.search(r"\d+", name)
                key = (la, digits.group(0) if digits else None,
                       "Female" if "females" in name else "Male")
                metric = "vacc" if "vaccinated" in name.lower() else "total"
                cells.setdefault(key, {})[metric] = _cell_text(value)
        for (la, yg, gender), m in cells.items():
            total, vacc = m.get("total"), m.get("vacc")
            if total is None or vacc is None:
                continue  # dropped before the scrub
            scrub = lambda v: None if v in SENTINELS else v
            total, vacc = scrub(total), scrub(vacc)
            base.append((scrub(la), yg, gender,
                         None if total is None else int(total.strip(" ")),
                         None if vacc is None else int(vacc.strip(" ")),
                         end, text, extract_date))

    def rollup(rows, idx, label):
        groups = {}
        for r in rows:
            k = tuple(label if i == idx else v for i, v in enumerate(r[:3])) + r[5:]
            groups.setdefault(k, []).append(r)
        return [k[:3] + (_sum(r[3] for r in g), _sum(r[4] for r in g)) + k[3:]
                for k, g in groups.items()]

    both = rollup(base, 2, "Both")
    every = rollup(base + both, 1, "All")
    return base + both + every


def row_hash(row):
    """First 8 bytes of SHA-256 over the canonical row text."""
    text = "\x1f".join("\\N" if v is None else str(v) for v in row)
    return int.from_bytes(hashlib.sha256(text.encode("utf-8")).digest()[:8], "big")


def fingerprint(rows):
    """(row count, order-independent hash as 16 hex digits)."""
    return len(rows), "%016x" % (sum(row_hash(r) for r in rows) % (1 << 64))
