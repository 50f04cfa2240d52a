"""LLM-output JSON extraction chain (SURVEY §2.4 U2/U3/U5).

Reference semantics (src/openllm_ocr_annotator/utils/formatter.py:28-68):
1. prefer a fenced markdown block ```json ... ``` (or bare ```), comments
   stripped, parsed as JSON;
2. else parse the whole text (comments stripped);
3. else scan the COMMENT-STRIPPED text for the first decodable '{...}'
   object (formatter.py:57 strips again before the scan — reasoning
   models prepend '<think>…' prose);
4. else empty object.

Faithful quirk, every step: ``remove_comments``'s ``//.*$`` regex does not
know about strings, so a JSON value containing '//' (URLs, file paths) is
truncated to invalid JSON and the row nulls — the reference mangles such
payloads identically at all three steps, and this engine replicates it
rather than "fixing" divergently (same class as the P4 falsy filter).

Spark mapping: the whole chain is one Arrow-batched pandas UDF,
``first_decodable_json``, that runs steps 1-3 once per row with the
reference's own parsers (Python ``re`` + ``json``) and returns the first
decodable JSON *string*, or NULL for step 4. The typed parse stays in the
JVM: ``parse_result`` applies ``from_json`` with the caller's schema, so
Python only slices strings and never builds rows.

Because validity is Python's ``json`` and not Jackson, the chain agrees
with the reference where the two parsers differ: single-quoted keys and
raw control characters inside strings are not JSON (NULL), ``NaN`` is,
and a CR ends no ``//`` comment (Python's ``.`` consumes ``\\r``).
Text with prose after the object fails step 2 and step 3 returns the
object alone; a leading scalar or array followed by prose (which
Jackson read as its prefix) holds no object and is NULL.
"""

from __future__ import annotations

import json
import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

# Fenced block: ```json\n...\n``` or ```\n...\n```  (formatter.py:40)
FENCE_RE = r"(?s)```(?:json)?\n(.*?)\n```"
LINE_COMMENT_RE = r"(?m)//.*$"
BLOCK_COMMENT_RE = r"(?s)/\*.*?\*/"

_FENCE = re.compile(FENCE_RE)
_LINE_COMMENT = re.compile(LINE_COMMENT_RE)
_BLOCK_COMMENT = re.compile(BLOCK_COMMENT_RE)
_DECODER = json.JSONDecoder()


def remove_comments(text: str) -> str:
    """U3: strip C-style /* */ then // comments (formatter.py:12-25)."""
    if "/" not in text:  # both patterns need a '/'
        return text
    return _LINE_COMMENT.sub("", _BLOCK_COMMENT.sub("", text))


def _scan_first_json(text: str) -> str | None:
    """First '{' from which a JSON value decodes, as a substring; else None.

    Decodes in place from each brace (no per-brace copy of the tail); a
    value that starts at '{' and decodes is always an object.
    """
    i = text.find("{")
    while i >= 0:
        try:
            _, end = _DECODER.raw_decode(text, i)
        except json.JSONDecodeError:
            i = text.find("{", i + 1)
        else:
            return text[i:end]
    return None


def _decodes(text: str) -> bool:
    try:
        _DECODER.decode(text)
    except json.JSONDecodeError:
        return False
    return True


def _first_json(text: str | None) -> str | None:
    """Steps 1-3 for one text: the first decodable JSON string, else None."""
    if not text:
        return None
    if "```" in text:
        fenced = _FENCE.search(text)
        if fenced:
            block = remove_comments(fenced.group(1))
            if _decodes(block):
                return block
    whole = remove_comments(text)
    if _decodes(whole):
        return whole
    return _scan_first_json(whole)


@F.pandas_udf(StringType())
def first_decodable_json(texts: pd.Series) -> pd.Series:
    """Raw text → best-effort JSON string (comment-stripped), NULL if none."""
    return texts.map(_first_json)


def parse_result(col: Column, schema: str) -> Column:
    """U2+U4: full chain → typed struct; NULL when nothing decodable."""
    return F.from_json(first_decodable_json(col), schema)
