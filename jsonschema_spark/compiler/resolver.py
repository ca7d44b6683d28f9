"""$id/$anchor URI indexing and reference resolution.

The engine analogue of the ``referencing`` registry the reference relies
on (/root/reference/jsonschema/validators.py:1070-1095 resolver scopes,
:1182-1262 anchor/URI indexing via referencing.Registry).  All resolution
happens at compile time on the driver: documents are indexed once into

- ``documents``:  absolute-URI (no fragment) -> schema resource root
- ``anchors``:    (resource base URI, plain-name fragment) -> subschema
- ``dynamic_anchors``: same, but only ``$dynamicAnchor`` registrations
  (the 2020-12 bookending rule needs the distinction)
- ``recursive``:  base URIs whose resource root carries
  ``$recursiveAnchor: true`` (2019-09)
- ``node_base``:  id(subschema dict) -> enclosing resource base URI,
  so compilation knows the base of any indexed node it descends into.

Indexing walks only *schema-bearing* keyword positions (the reference's
``referencing`` does the same via per-dialect subresource definitions),
so a ``$id``/``$anchor`` inside an unknown keyword or ``enum`` literal is
data, not an identifier (suite unknownKeyword.json).
"""

from __future__ import annotations

from typing import Any, Optional
from urllib.parse import unquote, urldefrag, urljoin

from .registry import SchemaCompileError

#: keyword -> how its value carries subschemas
_SINGLE = frozenset({
    "additionalProperties", "additionalItems", "contains", "contentSchema",
    "else", "if", "items", "not", "propertyNames", "then",
    "unevaluatedItems", "unevaluatedProperties", "extends",
})
_LIST = frozenset({"allOf", "anyOf", "oneOf", "prefixItems", "extends",
                   "items", "type", "disallow"})
_MAP = frozenset({"$defs", "definitions", "dependentSchemas",
                  "patternProperties", "properties", "dependencies"})


def join_uri(base: str, ref: str) -> str:
    """RFC 3986 reference resolution, with a fix-up for non-hierarchical
    schemes (``urn:``) that :func:`urljoin` leaves alone."""
    if ref.startswith("#"):
        return urldefrag(base)[0] + ref
    if not base:
        return ref
    joined = urljoin(base, ref)
    if joined == ref and ":" not in ref.split("#")[0].split("/")[0]:
        # urljoin refused to join (unknown scheme in base, e.g. urn:);
        # a relative ref against a non-hierarchical base stays unresolved
        return ref
    return joined


def urlopen_retrieve(uri: str) -> Any:
    """Opt-in network retriever for :class:`Resolver` — fetch `uri` with
    urllib and parse JSON, the analogue of the reference's
    ``RefResolver.resolve_remote`` urlopen path
    (/root/reference/jsonschema/validators.py:108-133, 1182-1233).

    NEVER used implicitly: pass ``retrieve=urlopen_retrieve`` explicitly
    to opt into network access at compile time (resolution is
    driver-side only — executors never fetch).  Production callers
    should prefer ``schema_store`` pre-registration, which keeps schema
    compilation hermetic and reproducible."""
    import json
    from urllib.request import urlopen
    with urlopen(uri) as resp:  # noqa: S310 - explicit user opt-in
        return json.loads(resp.read().decode("utf-8"))


class Resolver:
    """Compile-time schema registry + reference resolver.

    `retrieve`, when given, is called with the absolute URI of any
    ``$ref`` target that is not already registered; whatever document it
    returns is indexed (under that URI *and* its own ``$id``, per-resource
    draft rules applied) and resolution proceeds — the analogue of
    ``referencing.Registry(retrieve=...)``.  It runs on the driver during
    compile only, is consulted at most once per URI (the result is
    cached in ``documents``), and any exception it raises is wrapped in
    :class:`SchemaCompileError` (the reference maps retrieval failures
    to ``_RefResolutionError`` the same way)."""

    def __init__(self, draft: str = "draft2020-12", retrieve=None):
        self.draft = draft
        self.retrieve = retrieve
        self.documents: dict[str, Any] = {}
        self.anchors: dict[tuple[str, str], Any] = {}
        self.dynamic_anchors: dict[tuple[str, str], Any] = {}
        self.recursive: dict[str, Any] = {}
        self.node_base: dict[int, str] = {}
        self._keepalive: list[Any] = []

    def child(self) -> "Resolver":
        """Shallow-copied resolver sharing nothing mutable with self —
        cheap per-case forks on top of a pre-indexed remote registry."""
        out = Resolver(self.draft, retrieve=self.retrieve)
        out.documents = dict(self.documents)
        out.anchors = dict(self.anchors)
        out.dynamic_anchors = dict(self.dynamic_anchors)
        out.recursive = dict(self.recursive)
        out.node_base = dict(self.node_base)
        out._keepalive = list(self._keepalive)
        return out

    # ------------------------------------------------------------ indexing

    def add_document(self, uri: str, doc: Any) -> str:
        """Index `doc` under `uri` (its retrieval URI).  Returns the
        document's canonical base URI (its own ``$id`` wins, resolved
        against the retrieval URI).

        A document declaring its own ``$schema`` is indexed under THAT
        draft's identifier rules (legacy ``id``, ``#anchor``
        location-independent identifiers, $ref-hides-id), not the root
        resolver's — the per-resource dialect behavior of the
        reference's referencing registry (ADVICE-r3).  Documents
        without ``$schema`` inherit the root draft."""
        self._keepalive.append(doc)
        from .legacy import draft_named
        doc_draft = self.draft
        if isinstance(doc, dict):
            doc_draft = draft_named(doc.get("$schema")) or doc_draft
        base = uri
        if isinstance(doc, dict):
            ident = self._identifier(doc, doc_draft)
            if ident:
                new, frag = urldefrag(join_uri(uri, ident))
                if new:
                    base = new
        self.documents[base] = doc
        if uri and uri != base:
            self.documents[uri] = doc
        self._index(doc, base, doc_draft)
        return base

    def add_root(self, schema: Any) -> str:
        """Index the compilation root; base defaults to '' when it has
        no ``$id``."""
        return self.add_document("", schema)

    def _identifier(self, node: dict,
                    draft: Optional[str] = None) -> Optional[str]:
        draft = draft or self.draft
        # pre-2019 drafts ignore every $ref sibling *including* the
        # identifier (referencing's draft<=7 id_of returns None when
        # $ref is present; suite "sibling $id" ref.json cases)
        if draft in ("draft3", "draft4", "draft6", "draft7") \
                and "$ref" in node:
            return None
        # draft3/4 spell it `id`; accept both everywhere (remote fixture
        # documents mix drafts)
        v = node.get("$id")
        if isinstance(v, str):
            return v
        v = node.get("id")
        if isinstance(v, str) and draft in ("draft3", "draft4",
                                            "draft6", "draft7"):
            return v
        return None

    def _index(self, node: Any, base: str,
               draft: Optional[str] = None) -> None:
        if not isinstance(node, dict):
            return
        ident = self._identifier(node, draft)
        if ident:
            uri, frag = urldefrag(join_uri(base, ident))
            if uri and uri != base:
                base = uri
                self.documents.setdefault(base, node)
            if frag and not frag.startswith("/"):
                # pre-2019 location-independent identifier `$id: "#name"`
                self.anchors[(base, frag)] = node
        a = node.get("$anchor")
        if isinstance(a, str):
            self.anchors[(base, a)] = node
        d = node.get("$dynamicAnchor")
        if isinstance(d, str):
            self.anchors.setdefault((base, d), node)
            self.dynamic_anchors[(base, d)] = node
        if node.get("$recursiveAnchor") is True and base not in self.recursive:
            self.recursive[base] = node
        self.node_base[id(node)] = base
        for kw, value in node.items():
            if kw in _MAP and isinstance(value, dict):
                for sub in value.values():
                    self._index(sub, base, draft)
            elif kw in _LIST and isinstance(value, list):
                for sub in value:
                    self._index(sub, base, draft)
            elif kw in _SINGLE and isinstance(value, dict):
                self._index(value, base, draft)

    # ---------------------------------------------------------- resolution

    def base_of(self, node: Any, default: str = "") -> str:
        return self.node_base.get(id(node), default)

    def resolve(self, ref: str, base: str) -> tuple[Any, str]:
        """Resolve `ref` against `base`; returns (subschema, its resource
        base URI).  Raises SchemaCompileError when unresolvable — the
        engine's ``_RefResolutionError`` analogue
        (/root/reference/jsonschema/exceptions.py:231-305)."""
        target = join_uri(base, ref)
        uri, frag = urldefrag(target)
        doc = self.documents.get(uri)
        if doc is None and uri and self.retrieve is not None:
            try:
                fetched = self.retrieve(uri)
            except Exception as e:
                raise SchemaCompileError(
                    f"$ref {ref!r}: retrieve({uri!r}) failed: {e}") from e
            if fetched is not None:
                self.add_document(uri, fetched)
                doc = self.documents.get(uri)
        if doc is None:
            raise SchemaCompileError(
                f"unresolvable $ref {ref!r} (base {base!r} -> {uri!r}: "
                f"no such registered schema resource)")
        if not frag:
            return doc, uri
        if frag.startswith("/"):
            return self._pointer(doc, frag, uri)
        node = self.anchors.get((uri, frag))
        if node is None:
            raise SchemaCompileError(
                f"$ref {ref!r}: anchor {frag!r} not found in resource "
                f"{uri!r}")
        return node, self.node_base.get(id(node), uri)

    def _pointer(self, doc: Any, frag: str, base: str) -> tuple[Any, str]:
        node = doc
        for raw in frag.lstrip("/").split("/"):
            part = unquote(raw).replace("~1", "/").replace("~0", "~")
            if isinstance(node, list):
                try:
                    node = node[int(part)]
                except (ValueError, IndexError):
                    raise SchemaCompileError(
                        f"$ref pointer {frag!r}: bad array index {part!r}")
            elif isinstance(node, dict):
                if part not in node:
                    raise SchemaCompileError(
                        f"$ref pointer {frag!r}: {part!r} not found")
                node = node[part]
            else:
                raise SchemaCompileError(
                    f"$ref pointer {frag!r} walks into a leaf at {part!r}")
            if isinstance(node, dict) and id(node) in self.node_base:
                # pointer crossed into an embedded $id resource: refs
                # inside the referent resolve against *its* base
                base = self.node_base[id(node)]
        return node, base

    def is_dynamic_anchor(self, base: str, name: str) -> bool:
        return (base, name) in self.dynamic_anchors

    def dynamic_resolve(self, name: str,
                        dynamic_scope: tuple[str, ...]) -> Optional[tuple[Any, str]]:
        """Outermost-first search of the dynamic scope for a
        ``$dynamicAnchor`` named `name` (2020-12 core §8.2.3.2)."""
        for b in dynamic_scope:
            node = self.dynamic_anchors.get((b, name))
            if node is not None:
                return node, b
        return None

    def recursive_resolve(self,
                          dynamic_scope: tuple[str, ...]) -> Optional[tuple[Any, str]]:
        """Outermost-first search for ``$recursiveAnchor: true``
        (2019-09 core §8.2.4.2.2)."""
        for b in dynamic_scope:
            node = self.recursive.get(b)
            if node is not None:
                return self.documents.get(b, node), b
        return None
