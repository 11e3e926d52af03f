"""OOXML workbook scaffolding: the static XML parts, escaping, A1 helpers,
and the legacy sheet-protection password hash.

The part inventory mirrors what the reference emits at save time
(/root/reference/src/fast_writer/zero_temp_workbook.rs:300-532): content
types, package rels, workbook.xml, workbook rels, styles.xml with a fixed
style table, an empty sharedStrings.xml (inline-string default), and doc
props.  The XML here is standard OOXML (ECMA-376), written fresh.
"""

from __future__ import annotations

import re

XLSX_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"

# --- A1 helpers -----------------------------------------------------------

def col_letter(index: int) -> str:
    """0-based column index -> Excel letters (0->A, 25->Z, 26->AA)."""
    letters = ""
    index += 1
    while index > 0:
        index, rem = divmod(index - 1, 26)
        letters = chr(ord("A") + rem) + letters
    return letters


def letter_to_index(letters: str) -> int:
    """Excel letters -> 0-based column index (A->0, AA->26)."""
    result = 0
    for ch in letters:
        result = result * 26 + (ord(ch) - ord("A") + 1)
    return result - 1


# --- XML escaping ---------------------------------------------------------

_ESC = {"&": "&amp;", "<": "&lt;", ">": "&gt;", '"': "&quot;", "'": "&apos;"}
_CTRL_RE = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f]")  # keep \t\n\r


#: single C-level scan deciding whether esc() has any work to do at all —
#: the overwhelmingly common clean-string case skips all substitutions
_NEEDS_ESC_RE = re.compile(r"[&<>\"'\x00-\x1f]")


def esc(text: str) -> str:
    """Escape the five XML entities and strip control chars Excel rejects.

    Bare ``\\r`` is written as ``&#13;`` — XML 1.0 parsers normalize
    literal CR (and CRLF) to LF on read, so only the numeric reference
    round-trips it losslessly (found by the hypothesis round-trip test)."""
    if _NEEDS_ESC_RE.search(text) is None:
        return text
    text = _CTRL_RE.sub("", text)
    for ch, rep in _ESC.items():
        if ch in text:
            text = text.replace(ch, rep)
    if "\r" in text:
        text = text.replace("\r", "&#13;")
    return text


# --- sheet protection password (Excel legacy XOR hash) --------------------

def password_hash(password: str) -> str:
    """Excel legacy sheet-protection hash, byte-compatible with the
    reference (/root/reference/src/types.rs:390-400): XOR of each char
    rotated-left-1 in 16 bits (reversed order), then XOR length, XOR
    0xCE4B, rendered as 4 uppercase hex digits."""
    h = 0
    for ch in reversed(password):
        v = ord(ch) & 0xFFFF
        v = ((v << 1) | (v >> 15)) & 0xFFFF
        h ^= v
    h ^= len(password) & 0xFFFF
    h ^= 0xCE4B
    return f"{h:04X}"


# --- static parts ---------------------------------------------------------

#: Style table (cellXfs) indices — a fixed palette like the reference's 15
#: presets (zero_temp_workbook.rs:434-485): 0 default, 1 bold, 2 italic,
#: 3 bold-italic, 4 date, 5 datetime, 6 number-2dp, 7 percent, 8 currency,
#: 9 header (bold + fill + border), 10 text-wrap.
STYLE_DEFAULT = 0
STYLE_BOLD = 1
STYLE_ITALIC = 2
STYLE_BOLD_ITALIC = 3
STYLE_DATE = 4
STYLE_DATETIME = 5
STYLE_NUMBER_2DP = 6
STYLE_PERCENT = 7
STYLE_CURRENCY = 8
STYLE_HEADER = 9
STYLE_WRAP = 10

STYLE_NAMES = {
    "default": STYLE_DEFAULT,
    "bold": STYLE_BOLD,
    "italic": STYLE_ITALIC,
    "bold_italic": STYLE_BOLD_ITALIC,
    "date": STYLE_DATE,
    "datetime": STYLE_DATETIME,
    "number": STYLE_NUMBER_2DP,
    "percent": STYLE_PERCENT,
    "currency": STYLE_CURRENCY,
    "header": STYLE_HEADER,
    "wrap": STYLE_WRAP,
}

STYLES_XML = f"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<styleSheet xmlns="{XLSX_NS}">
<numFmts count="2">
<numFmt numFmtId="164" formatCode="#,##0.00"/>
<numFmt numFmtId="165" formatCode="&quot;$&quot;#,##0.00"/>
</numFmts>
<fonts count="4">
<font><sz val="11"/><name val="Calibri"/></font>
<font><b/><sz val="11"/><name val="Calibri"/></font>
<font><i/><sz val="11"/><name val="Calibri"/></font>
<font><b/><i/><sz val="11"/><name val="Calibri"/></font>
</fonts>
<fills count="3">
<fill><patternFill patternType="none"/></fill>
<fill><patternFill patternType="gray125"/></fill>
<fill><patternFill patternType="solid"><fgColor rgb="FFD9D9D9"/><bgColor indexed="64"/></patternFill></fill>
</fills>
<borders count="2">
<border><left/><right/><top/><bottom/><diagonal/></border>
<border><left style="thin"/><right style="thin"/><top style="thin"/><bottom style="thin"/><diagonal/></border>
</borders>
<cellStyleXfs count="1"><xf numFmtId="0" fontId="0" fillId="0" borderId="0"/></cellStyleXfs>
<cellXfs count="11">
<xf numFmtId="0" fontId="0" fillId="0" borderId="0" xfId="0"/>
<xf numFmtId="0" fontId="1" fillId="0" borderId="0" xfId="0" applyFont="1"/>
<xf numFmtId="0" fontId="2" fillId="0" borderId="0" xfId="0" applyFont="1"/>
<xf numFmtId="0" fontId="3" fillId="0" borderId="0" xfId="0" applyFont="1"/>
<xf numFmtId="14" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/>
<xf numFmtId="22" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/>
<xf numFmtId="164" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/>
<xf numFmtId="10" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/>
<xf numFmtId="165" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/>
<xf numFmtId="0" fontId="1" fillId="2" borderId="1" xfId="0" applyFont="1" applyFill="1" applyBorder="1"/>
<xf numFmtId="0" fontId="0" fillId="0" borderId="0" xfId="0" applyAlignment="1"><alignment wrapText="1"/></xf>
</cellXfs>
<cellStyles count="1"><cellStyle name="Normal" xfId="0" builtinId="0"/></cellStyles>
</styleSheet>
"""

EMPTY_SST_XML = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
    f'<sst xmlns="{XLSX_NS}" count="0" uniqueCount="0"/>'
)

PACKAGE_RELS_XML = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/package/2006/relationships/metadata/core-properties" Target="docProps/core.xml"/>
<Relationship Id="rId3" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/extended-properties" Target="docProps/app.xml"/>
</Relationships>
"""

APP_XML = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Properties xmlns="http://schemas.openxmlformats.org/officeDocument/2006/extended-properties">
<Application>excelstream_spark</Application>
</Properties>
"""

CORE_XML = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<cp:coreProperties xmlns:cp="http://schemas.openxmlformats.org/package/2006/metadata/core-properties" xmlns:dc="http://purl.org/dc/elements/1.1/">
<dc:creator>excelstream_spark</dc:creator>
</cp:coreProperties>
"""


def content_types_xml(n_sheets: int) -> str:
    overrides = "\n".join(
        f'<Override PartName="/xl/worksheets/sheet{i}.xml" '
        'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        for i in range(1, n_sheets + 1)
    )
    return f"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
{overrides}
<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>
<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>
<Override PartName="/docProps/core.xml" ContentType="application/vnd.openxmlformats-package.core-properties+xml"/>
<Override PartName="/docProps/app.xml" ContentType="application/vnd.openxmlformats-officedocument.extended-properties+xml"/>
</Types>
"""


def workbook_xml(sheet_names: list[str]) -> str:
    sheets = "\n".join(
        f'<sheet name="{esc(name)}" sheetId="{i}" r:id="rId{i}"/>'
        for i, name in enumerate(sheet_names, start=1)
    )
    return f"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<workbook xmlns="{XLSX_NS}" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
<sheets>
{sheets}
</sheets>
</workbook>
"""


def workbook_rels_xml(n_sheets: int) -> str:
    rels = "\n".join(
        f'<Relationship Id="rId{i}" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" '
        f'Target="worksheets/sheet{i}.xml"/>'
        for i in range(1, n_sheets + 1)
    )
    return f"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
{rels}
<Relationship Id="rId{n_sheets + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/>
<Relationship Id="rId{n_sheets + 2}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>
</Relationships>
"""


#: numFmtIds that render as dates/datetimes (built-in OOXML table).
BUILTIN_DATE_NUMFMTS = frozenset(range(14, 23)) | frozenset(range(45, 48))

_DATE_TOKEN_RE = re.compile(r"[ymdhs]", re.IGNORECASE)
_NOT_DATE_RE = re.compile(r"\[[^\]]*\]|&quot;[^&]*&quot;|\"[^\"]*\"")


def format_code_is_date(code: str) -> bool:
    """Heuristic: a custom numFmt is a date format if it contains y/m/d/h/s
    tokens outside quoted literals and [] sections."""
    return bool(_DATE_TOKEN_RE.search(_NOT_DATE_RE.sub("", code)))
