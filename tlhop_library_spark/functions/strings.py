"""String/cleaning function parity (SURVEY.md §2.8 F1-F12, F15).

The reference implements these as ~25 scalar Python UDFs
(/root/reference/tlhop/library.py); here every one is either a pure
JVM column expression (whole-stage codegen) or an Arrow-batched
pandas_udf — never row-at-a-time Python.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

# F3 — ISO-639 primary-subtag → language name (reference
# library.py:407-483 ships a 180-entry dict; a representative frozen
# subset here, same normalization semantics: lowercase, strip
# quotes/underscores to '-', primary subtag, lookup)
ISO_639_MAP = {
    "en": "English", "pt": "Portuguese", "es": "Spanish", "de": "German",
    "fr": "French", "it": "Italian", "nl": "Dutch", "ru": "Russian",
    "zh": "Chinese", "ja": "Japanese", "ko": "Korean", "ar": "Arabic",
    "hi": "Hindi", "tr": "Turkish", "pl": "Polish", "sv": "Swedish",
}


def http_status_code(banner: Column) -> Column:
    """F1 — HTTP status from a banner line (ref shodan_library.py:42)."""
    return F.regexp_extract(banner, r"HTTP/\d\.\d (\d{3})", 1)


def html_lang_attr(html: Column) -> Column:
    """F2 — lang= attribute from HTML (ref shodan_library.py:127-129)."""
    return F.regexp_extract(html, r"""lang=["']?([A-Za-z\-_]+)""", 1)


def webpage_stats(html: Column, title: Column) -> Column:
    """Webpage-content presence class — CODE_AND_TITLE / ONLY_CODE /
    ONLY_TITLE / BOTH_EMPTY (ref shodan_library.py:95-102; the
    reference's ``describe_html`` accessor wrapper is broken — it
    calls a nonexistent ``shodan_lib.shodan_lib.describe_html``,
    tlhop_abstraction.py:61-62 — this is the working equivalent).
    Pure JVM CASE expression; ``length`` counts bytes on binary
    columns, chars on strings, matching the reference's use on both.
    NULL inputs fall through each WHEN exactly like the reference
    (length(NULL) > 0 is NULL → not matched)."""
    has_html = F.length(html) > 0
    has_title = F.length(title) > 0
    return (
        F.when(has_html & has_title, F.lit("CODE_AND_TITLE"))
        .when(has_html, F.lit("ONLY_CODE"))
        .when(has_title, F.lit("ONLY_TITLE"))
        .otherwise(F.lit("BOTH_EMPTY"))
    )


def screenshot_img_tag(mime: Column, data_b64: Column) -> Column:
    """Inline ``<img>`` tag from (mime, base64 payload) — the assembly
    half of the reference's ``extract_screenshot``
    (shodan_library.py:177-200): strip newlines from the base64 body,
    concat into ``<img src="data:MIME;base64,DATA" >``. Pure JVM."""
    return F.concat_ws(
        "",
        F.lit('<img src="data:'),
        mime,
        F.lit(";base64,"),
        F.translate(data_b64, "\n", ""),
        F.lit('" >'),
    )


def normalize_lang_code(code: Column) -> Column:
    """F3 — ISO-639 normalization, JVM-side: lowercase, quotes strip,
    '_'→'-', primary subtag, mapped name or NULL."""
    c = F.lower(F.regexp_replace(code, r"""["']""", ""))
    c = F.regexp_replace(c, "_", "-")
    primary = F.split(c, "-").getItem(0)
    mapping = F.create_map(
        *[F.lit(x) for kv in ISO_639_MAP.items() for x in kv]
    )
    return mapping.getItem(primary)


@F.pandas_udf(StringType())
def normalize_string(s: pd.Series) -> pd.Series:
    """F6 — NFKD accent strip; the reference's one pandas UDF
    (library.py:38-43), same semantics."""
    return (
        s.str.normalize("NFKD")
        .str.encode("ascii", errors="ignore")
        .str.decode("utf-8")
    )


# F5 — cleaning pipeline (ref library.py:62-97): mojibake repair table,
# accent translate, non-alnum→space, collapse, upper. Mojibake pairs
# from the reference's semantics (utf-8 read as latin-1).
_MOJIBAKE = {
    "Ã¡": "á", "Ã¢": "â", "Ã£": "ã", "Ã©": "é", "Ãª": "ê",
    "Ã­": "í", "Ã³": "ó", "Ã´": "ô", "Ãµ": "õ", "Ãº": "ú",
    "Ã§": "ç", "Ã ": "à",
}
_ACCENT_SRC = "áâãàäéêèëíîìïóôõòöúûùüçñ"
_ACCENT_DST = "aaaaaeeeeiiiiooooouuuucn"


def clean_string(col: Column) -> Column:
    """F5 — JVM-side: mojibake repair → accent translate → symbols to
    space → collapse spaces → trim → upper."""
    out = col
    for bad, good in _MOJIBAKE.items():
        out = F.replace(out, F.lit(bad), F.lit(good))
    out = F.translate(F.lower(out), _ACCENT_SRC, _ACCENT_DST)
    out = F.regexp_replace(out, r"[^A-Za-z0-9]+", " ")
    out = F.upper(F.trim(F.regexp_replace(out, r" +", " ")))
    return out


@F.pandas_udf(StringType())
def check_unicode_symbols(s: pd.Series) -> pd.Series:
    """F5b — report non-ASCII codepoints present (ref
    library.py:101-134), vectorized."""

    def probe(x):
        if x is None:
            return None
        bad = sorted({c for c in x if ord(c) > 127})
        return "".join(bad) if bad else None

    return s.map(probe)


def ip_to_subnet24(ip: Column) -> Column:
    """F8 — IP → /24 via split + concat_ws + getItem
    (ref shodan_library.py:346-348)."""
    p = F.split(ip, r"\.")
    return F.concat_ws(
        ".", p.getItem(0), p.getItem(1), p.getItem(2), F.lit("0/24")
    )


def truncate_preview(col: Column, n: int = 500) -> Column:
    """F10 — substring truncation (ref vulnerability_assessment.py:121)."""
    return F.substring(col, 1, n)


def json_field(col: Column, field: str) -> Column:
    """JSON-field extraction without a UDF (ref library.py:162-181 uses
    a parameterized scalar-UDF factory; get_json_object is the
    codegen'd equivalent)."""
    return F.get_json_object(col, f"$.{field}")


def json_keys(col: Column) -> Column:
    """JSON top-level keys (ref library.py:139-158 scalar UDF)."""
    return F.json_object_keys(col)


def bucket_score(col: Column) -> Column:
    """Score bucketing when-chain (ref bucket_epss library.py:849-864,
    _bucket_cvss nist_nvd.py:260-288): [0,1] score → decile label."""
    out = F.when(col.isNull(), None)
    for lo in [0.9, 0.8, 0.7, 0.6, 0.5, 0.4, 0.3, 0.2, 0.1]:
        out = out.when(col >= lo, F.lit(f"{lo:.1f}-{lo + 0.1:.1f}"))
    return out.otherwise(F.lit("0.0-0.1"))


def markdown_summary(cols: dict[str, Column]) -> Column:
    """F15 — markdown record summary (ref format_data
    vulnerability_assessment.py:493-524), as one concat expression."""
    parts = []
    for name, c in cols.items():
        parts.append(F.lit(f"**{name}**: "))
        parts.append(F.coalesce(c.cast("string"), F.lit("-")))
        parts.append(F.lit("\n"))
    return F.concat(*parts)
