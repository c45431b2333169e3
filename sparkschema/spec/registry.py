"""Spec registry — the ``SchemaValidator.addSchema`` analog.

Named schema documents are registered up front on the driver
(reference: SchemaValidator.scala:84-92 + DocumentCache,
internal/refs/SchemaResolutionScope.scala:20-39); every ``id``/``$id``-
bearing subschema is harvested into an index (collectSchemas,
internal/package.scala:24-48). There is NO network fetch — the reference's
remote-ref behavior (SchemaRefResolver.scala:196-212) is reproduced by
pre-registering documents under their URLs.
"""

from __future__ import annotations

import json
from typing import Any, Callable

from sparkschema.spec.interpreter import Validator
from sparkschema.spec.jsonvalue import parse_json
from sparkschema.spec.refs import DocumentIndex, RefResolver, Scope


def sniff_dialect(schema: Any, default: str = "draft7") -> str:
    """Select the keyword dialect from ``$schema`` (the reference's
    obtainVersion, SchemaValidator.scala:117-123; default draft-7 :51)."""
    if isinstance(schema, dict):
        s = schema.get("$schema", "")
        if isinstance(s, str):
            if "draft-04" in s:
                return "draft4"
            if "draft-07" in s:
                return "draft7"
    return default


class SpecRegistry:
    """Driver-side registry of named constraint-spec documents."""

    def __init__(self, dialect: str = "draft7"):
        self.dialect = dialect
        self.index = DocumentIndex()
        self._formats: dict[str, Callable[[Any], bool]] = {}
        self._docs: dict[str, Any] = {}
        # file:// is the only default scheme; network schemes are opt-in
        self._url_handlers: dict[str, Callable[[str], str]] = {
            "file": lambda url: open(url[len("file://"):], encoding="utf-8").read(),
        }

    # -- registration --------------------------------------------------------

    def add_schema(self, uri: str, schema: Any) -> "SpecRegistry":
        if isinstance(schema, str):
            schema = parse_json(schema)
        self._docs[uri] = schema
        self.index.add_document(uri, schema, sniff_dialect(schema, self.dialect))
        return self

    def add_schema_file(self, uri: str, path: str) -> "SpecRegistry":
        with open(path, encoding="utf-8") as f:
            return self.add_schema(uri, f.read())

    def add_format(self, name: str, fn: Callable[[Any], bool]) -> "SpecRegistry":
        """Custom format — the ``SchemaFormat``/``addFormat`` analog
        (reference: SchemaFormat.scala:5-19, SchemaValidator.scala:75-76)."""
        self._formats[name] = fn
        return self

    def add_url_handler(self, scheme: str,
                        fn: Callable[[str], str]) -> "SpecRegistry":
        """Custom URL-scheme loader — the ``addUrlHandler`` analog
        (reference: SchemaValidator.scala:60-67, UrlStreamResolverFactory).
        ``fn(url) -> JSON text``; used by :meth:`add_schema_from_url`.
        Loading happens on the driver at registration time only — executors
        never fetch."""
        self._url_handlers[scheme] = fn
        return self

    def add_schema_from_url(self, url: str) -> "SpecRegistry":
        scheme = url.split(":", 1)[0]
        handler = self._url_handlers.get(scheme)
        if handler is None:
            raise ValueError(f"no URL handler registered for scheme {scheme!r} "
                             f"(register one with add_url_handler)")
        return self.add_schema(url, handler(url))

    # -- validator construction ----------------------------------------------

    def validator(self, catalog: dict[str, str] | None = None) -> Validator:
        return Validator(RefResolver(self.index, self.dialect),
                         formats=self._formats or None, catalog=catalog)

    def validate(self, schema: Any, value: Any, base_uri: str = ""):
        """One-shot: validate ``value`` against ``schema`` (dict or JSON text)."""
        if isinstance(schema, str):
            schema = parse_json(schema)
        # resolve against a CLONE: registering the ad-hoc document (and
        # every $id scope inside it) into the long-lived index would let
        # a transient subschema permanently shadow a later add_schema
        # under the same $id — _collect only setdefaults (review find r4,
        # same hazard the table compiler's inlining clones around)
        idx = self.index.clone()
        root_uri = base_uri or "urn:sparkschema:adhoc"
        idx.add_document(root_uri, schema, sniff_dialect(schema, self.dialect))
        v = Validator(RefResolver(idx, self.dialect),
                      formats=self._formats or None)
        return v.validate(schema, value, Scope(schema, root_uri))

    def to_json(self, uri: str) -> str:
        """Round-trip a registered document back to JSON text — the
        SchemaWrites analog (internal/draft7/SchemaWrites7.scala)."""
        from sparkschema.spec.jsonvalue import dump_json
        return dump_json(self._docs[uri])
