"""Canonical JSON + content-hash identity (SURVEY.md §7 trap 6).

Reference: WebObjects' dedup hash spans bodyText + scraped-data JSON +
detected-tech JSON, with JSON re-marshaled canonically first
(``normalizeJSON`` /root/reference/pkg/crawler/json_normalization.go:33-104,
hash composition /root/reference/pkg/crawler/crawler.go:1504-1520).
Go's ``json.Marshal`` of a map emits keys sorted, no insignificant
whitespace — byte-identical to Python's
``json.dumps(obj, sort_keys=True, separators=(",", ":"))`` for the
string/number/bool/null/array/object subset that survives a decode.

No Spark builtin produces canonical JSON (``to_json`` preserves struct
field order, and map key order is undefined), so this is a vectorized
pandas UDF — Arrow-batched, never per-row Python loops at the plan level.
"""

from __future__ import annotations

import hashlib
import json

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType


def _canon(s: str | None) -> str | None:
    if s is None:
        return None
    t = s.strip()
    if t == "":
        return ""
    try:
        obj = json.loads(t)
    except (ValueError, RecursionError):
        return s  # non-JSON passes through (normalizeJSON keeps original)
    return json.dumps(obj, sort_keys=True, separators=(",", ":"), ensure_ascii=False)


@pandas_udf(StringType())
def canonical_json(s: pd.Series) -> pd.Series:
    """Canonical re-marshal: parse → sorted-key compact dump."""
    return s.map(_canon)


@pandas_udf(StringType())
def content_identity_hash(body: pd.Series, scraped_json: pd.Series, tech_json: pd.Series) -> pd.Series:
    """WebObjects object_hash: sha256 over bodyText + canonical scraped
    JSON + canonical tech JSON, concatenated in that order
    (crawler.go:1504-1520). Empty/null parts contribute nothing."""

    def one(b, sc, te) -> str:
        h = hashlib.sha256()
        h.update((b or "").encode("utf-8"))
        for part in (sc, te):
            c = _canon(part)
            if c:
                h.update(c.encode("utf-8"))
        return h.hexdigest()

    return pd.Series([one(b, sc, te) for b, sc, te in zip(body, scraped_json, tech_json)])


def _xml_to_obj(xml_str: str):
    """XML → generic JSONable dict, mirroring the reference walker
    (/root/reference/pkg/crawler/content_type.go:239-335): attributes →
    ``@name`` keys, text → ``#text`` (space-joined accumulation),
    duplicate child names auto-array; result wrapped {RootName: {...}}."""
    import xml.etree.ElementTree as ET

    def node_of(el) -> dict:
        node: dict = {}
        for k, v in el.attrib.items():
            node["@" + k.split("}")[-1]] = v
        texts = []
        if el.text and el.text.strip():
            texts.append(el.text.strip())
        for child in el:
            key = child.tag.split("}")[-1]
            val = node_of(child)
            if key in node:
                if isinstance(node[key], list):
                    node[key].append(val)
                else:
                    node[key] = [node[key], val]
            else:
                node[key] = val
            if child.tail and child.tail.strip():
                texts.append(child.tail.strip())
        if texts:
            node["#text"] = " ".join(texts)
        return node

    root = ET.fromstring(xml_str)
    return {root.tag.split("}")[-1]: node_of(root)}


@pandas_udf(StringType())
def xml_to_json(s: pd.Series) -> pd.Series:
    """XML string → canonical JSON string (null on parse failure)."""

    def one(x):
        if x is None:
            return None
        try:
            return json.dumps(
                _xml_to_obj(x), sort_keys=True, separators=(",", ":"), ensure_ascii=False
            )
        except Exception:  # noqa: BLE001  (reference returns error → caller falls back)
            return None

    return s.map(one)
