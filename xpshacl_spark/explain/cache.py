"""Persistent explanation cache.

The reference persists a 'violation KG' — an rdflib graph of
signature -> explanation facts serialized to Turtle
(/root/reference/src/violation_kg.py:29-295). Here the cache is a
Parquet table keyed by (signature_id, language) with the same
has/get/add/clear/size semantics:

* md5 signature key parity (signature.py reproduces
  violation_kg.py:88-102 byte-for-byte);
* suggestions stored as ONE combined string joined with "\\n\\n" and
  split back on read (violation_kg.py:27, :152, :256-259);
* per-(signature, language) de-duplication on add
  (violation_kg.py:239-259);
* size() counts emulated RDF facts so the reference's
  9-triples-per-full-add invariant holds
  (tests/test_violation_kg.py:44-62).

At scale the cache is loaded as a DataFrame and broadcast-joined
against fresh signatures; this driver-side class is the bookkeeping
API (the signature set is tiny by construction — it is the output of
the dedup stage).
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
from typing import Optional

import pandas as pd

from xpshacl_spark.explain.signature import ViolationSignature, signature_to_uri

SUGGESTION_SEPARATOR = "\n\n"

_COLUMNS = [
    "signature_id",  # full xsh:sig_<md5> URI
    "constraint_component",
    "property_path",
    "violation_type",
    "constraint_params",  # JSON, sorted keys (violation_kg.py:234)
    "language",
    "natural_language_explanation",
    "correction_suggestions",  # combined with SUGGESTION_SEPARATOR
    "provided_by_model",
    "violation_json",
    "justification_tree_json",
    "retrieved_context_json",
]


class ExplanationCache:
    """Parquet-backed (signature, language) -> explanation cache."""

    def __init__(self, path: Optional[str] = None):
        self.path = path
        self._df = pd.DataFrame(columns=_COLUMNS)
        if path and os.path.exists(path):
            self.load()

    # -- persistence ----------------------------------------------------

    def save(self) -> None:
        """Single serialize per run (violation_kg.py:59-66 / main.py:213-216).

        Merges with the file on disk first: its rows whose (signature,
        language) this cache does not hold are kept, so runners sharing
        a cache path keep each other's entries; on a shared key this
        cache's row wins. The read, merge and rename run under the
        path's exclusive lock, so overlapping saves serialize and none
        drops another's rows."""
        if not self.path:
            return
        with self._locked():
            df = self._df
            if os.path.exists(self.path):
                disk = pd.read_parquet(self.path)
                held = set(zip(df["signature_id"], df["language"]))
                disk = disk[
                    [k not in held for k in zip(disk["signature_id"], disk["language"])]
                ]
                if len(disk):
                    df = pd.concat([df, disk], ignore_index=True)
            self._write(df)

    @contextlib.contextmanager
    def _locked(self):
        """Hold an exclusive flock on `<path>.lock`. flock conflicts
        between open file descriptions, so it serializes threads of one
        process as well as processes. The lock file is removed on
        release; a waiter that wakes holding the lock of a removed file
        retries on the current one, so two holders never coexist."""
        lock = f"{self.path}.lock"
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        while True:
            fd = os.open(lock, os.O_RDWR | os.O_CREAT, 0o644)
            try:
                fcntl.flock(fd, fcntl.LOCK_EX)
                if os.path.samestat(os.fstat(fd), os.stat(lock)):
                    break
            except FileNotFoundError:
                pass
            except BaseException:
                os.close(fd)
                raise
            os.close(fd)
        try:
            yield
        finally:
            os.unlink(lock)
            os.close(fd)

    def _write(self, df: pd.DataFrame) -> None:
        """Write `df` to a temporary file in the same directory and
        rename it over `path`, so a kill mid-save leaves the previous
        cache loadable instead of a torn file. Callers hold the lock."""
        tmp = f"{self.path}.{os.getpid()}.tmp"
        try:
            df.to_parquet(tmp, index=False)
            os.replace(tmp, self.path)
        except BaseException:
            if os.path.exists(tmp):
                os.remove(tmp)
            raise

    def load(self) -> None:
        if self.path and os.path.exists(self.path):
            self._df = pd.read_parquet(self.path)
        else:
            self._df = pd.DataFrame(columns=_COLUMNS)

    def to_spark(self, spark):
        """The cache as a DataFrame for broadcast cache-hit joins."""
        from pyspark.sql import types as T

        from xpshacl_spark.session import local_relation

        schema = T.StructType(
            [T.StructField(c, T.StringType(), True) for c in _COLUMNS]
        )
        df = self._df[_COLUMNS].astype(object)
        rows = df.where(df.notna(), None).itertuples(index=False, name=None)
        return local_relation(spark, rows, schema)

    # -- reference-parity API -------------------------------------------

    def has_violation(self, sig: ViolationSignature, language: str = "en") -> bool:
        """violation_kg.py:104-122."""
        uri = signature_to_uri(sig)
        m = self._df[
            (self._df["signature_id"] == uri) & (self._df["language"] == language)
        ]
        return bool((m["natural_language_explanation"].notna()).any())

    def get_explanation(
        self, sig: ViolationSignature, language: str = "en"
    ) -> Optional[dict]:
        """violation_kg.py:124-206; suggestions split on the separator."""
        uri = signature_to_uri(sig)
        m = self._df[
            (self._df["signature_id"] == uri) & (self._df["language"] == language)
        ]
        if len(m) == 0:
            return None
        row = m.iloc[0]
        if pd.isna(row["natural_language_explanation"]):
            return None
        cs = row["correction_suggestions"]
        suggestions = (
            str(cs).split(SUGGESTION_SEPARATOR) if cs is not None and not pd.isna(cs) else []
        )

        # model + JSON blobs live on the EXPLANATION NODE in the
        # reference (violation_kg.py:160-199), shared by all languages —
        # fall back to any row of the signature if this language's row
        # doesn't carry them (they are stored once per signature). The
        # fallback scan runs only when a column is actually missing, so
        # the common self-carrying row pays nothing extra.
        sig_rows_cache = []

        def _node_level(col: str):
            if not pd.isna(row[col]) and row[col] is not None:
                return row[col]
            if not sig_rows_cache:
                sig_rows_cache.append(self._df[self._df["signature_id"] == uri])
            vals = sig_rows_cache[0][col].dropna()
            return vals.iloc[0] if len(vals) else None

        model = _node_level("provided_by_model")
        return {
            "natural_language_explanation": row["natural_language_explanation"],
            "correction_suggestions": suggestions,
            "provided_by_model": None if model is None else model,
            "violation": _loads(_node_level("violation_json")),
            "justification_tree": _loads(_node_level("justification_tree_json")),
            "retrieved_context": _loads(_node_level("retrieved_context_json")),
        }

    def add_violation(
        self,
        sig: ViolationSignature,
        explanation: dict,
        language: str = "en",
    ) -> None:
        """violation_kg.py:208-284: no duplicate (signature, language)
        text; complex JSON stored once per signature."""
        uri = signature_to_uri(sig)
        if self.has_violation(sig, language):
            return
        first_for_sig = not (self._df["signature_id"] == uri).any()
        cs = explanation.get("correction_suggestions")
        if isinstance(cs, (list, tuple)):
            cs = SUGGESTION_SEPARATOR.join(cs)
        rec = {
            "signature_id": uri,
            "constraint_component": sig.constraint_id,
            "property_path": sig.property_path,
            "violation_type": (
                str(sig.violation_type) if sig.violation_type else None
            ),
            "constraint_params": (
                json.dumps(sig.constraint_params, sort_keys=True, default=str)
                if sig.constraint_params
                else None
            ),
            "language": language,
            "natural_language_explanation": explanation.get(
                "natural_language_explanation"
            ),
            "correction_suggestions": cs,
            "provided_by_model": explanation.get("provided_by_model"),
            "violation_json": _dumps(explanation.get("violation")) if first_for_sig else None,
            "justification_tree_json": (
                _dumps(explanation.get("justification_tree")) if first_for_sig else None
            ),
            "retrieved_context_json": (
                _dumps(explanation.get("retrieved_context")) if first_for_sig else None
            ),
        }
        self._df = pd.concat(
            [self._df, pd.DataFrame([rec])], ignore_index=True
        )

    def clear(self) -> None:
        """violation_kg.py:286-291."""
        self._df = pd.DataFrame(columns=_COLUMNS)
        if self.path:
            with self._locked():
                self._write(self._df)

    def size(self) -> int:
        """Number of emulated RDF facts, preserving the reference's
        exactly-9-triples-per-full-add invariant
        (tests/test_violation_kg.py:44-62): per distinct signature,
        3 structural facts (sig rdf:type, expl rdf:type, hasExplanation)
        + 1 constraintComponent + propertyPath/violationType/
        constraintParams if present + per (sig, language): text,
        suggestions, model, and the three JSON blobs if present."""
        n = 0
        for uri, grp in self._df.groupby("signature_id"):
            first = grp.iloc[0]
            n += 3 + 1  # structure + constraintComponent
            n += int(pd.notna(first["property_path"]))
            n += int(pd.notna(first["violation_type"]))
            n += int(pd.notna(first["constraint_params"]))
            for _, row in grp.iterrows():
                n += int(pd.notna(row["natural_language_explanation"]))
                n += int(pd.notna(row["correction_suggestions"]))
                n += int(pd.notna(row["provided_by_model"]))
                n += int(pd.notna(row["violation_json"]))
                n += int(pd.notna(row["justification_tree_json"]))
                n += int(pd.notna(row["retrieved_context_json"]))
        return n


def _dumps(obj) -> Optional[str]:
    if obj is None:
        return None
    return json.dumps(obj, default=str)


def _loads(s) -> Optional[dict]:
    if s is None or (isinstance(s, float) and pd.isna(s)):
        return None
    try:
        return json.loads(s)
    except (TypeError, ValueError):
        return None
