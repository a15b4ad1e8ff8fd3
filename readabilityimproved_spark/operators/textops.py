"""Batched text operators over span-shaped tables: title extraction and
per-document content scoring surface (the reference's scored-DOM debug
intermediate, ReadabilityForImg.java:786-791, as a queryable column).
Each is a per-document function on the extraction operator's document
loop (``extract.map_documents``)."""

from __future__ import annotations

from ..kernel.dates import DEFAULT_REF_DATE
from ..kernel.htmldates import date_from_html
from ..kernel.readability import debug_scored_nodes
from ..kernel.title import get_title
from .extract import map_documents, no_rows


def _null_row(row, status: str) -> list[tuple]:
    return [(None,)]


def _title_row(row, page: str, base_uri: str) -> list[tuple]:
    return [(get_title(page, base_uri),)]


def extract_titles(df):
    """documents(doc_id, spans[, base_uri]) -> (doc_id, title); an
    oversize or failing page gets a null title."""
    return map_documents(df, _title_row, [("title", "string")], _null_row)


def _pubdate_row(row, page: str, base_uri: str) -> list[tuple]:
    return [(date_from_html(page, None, DEFAULT_REF_DATE),)]


def extract_pub_dates(df):
    """T2: documents(doc_id, spans) -> (doc_id, pub_date) via the weighted
    HTML date extraction (TimeUtil.getDateFromHtml); an oversize or
    failing page gets a null date."""
    return map_documents(df, _pubdate_row, [("pub_date", "string")], _null_row)


SCORED_NODE_FIELDS = [
    ("tag", "string"),
    ("cls", "string"),
    ("node_id", "string"),
    ("score", "int"),
]


def _scored_rows(row, page: str, base_uri: str) -> list[tuple]:
    return debug_scored_nodes(page, base_uri)


def scored_dom_nodes(df):
    """S6 debug sink as a queryable table: one row per content-scored node
    at the reference's dump point (pre link-density scaling)."""
    return map_documents(df, _scored_rows, SCORED_NODE_FIELDS, no_rows)
