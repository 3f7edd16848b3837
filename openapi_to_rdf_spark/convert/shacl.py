"""OpenAPI components/schemas -> (RDF vocabulary, SHACL shapes) triple sets.

Pure function, no I/O, no Spark: this is the vectorized stage that runs inside
``mapInPandas`` in the distributed pipeline, and the correctness gate against
the reference goldens (P/R >= 0.95, target 1.0).

Semantics re-derived from /root/reference/openapi_to_rdf/shacl_converter.py
(cited per-handler below) including its verified quirks (SURVEY.md section 2.5):
``sh:or_`` trailing-underscore URIs, top-level scalar schemas emitting class
only, top-level ``$ref`` schemas emitting nothing, ``maxCount 1`` on every
non-array property, enum ``None`` -> "NULL", the tiny exact-match string
format map, the name-substring datatype heuristic for refs, and the global
triple-count-based empty-shape pruning for homogeneous oneOf/anyOf.

Blank-node labels here are per-file counters (deterministic: conversion of a
single file is sequential); cross-file determinism is irrelevant because bnode
identity is file-scoped, mirroring rdflib BNode scoping.
"""

from __future__ import annotations

import posixpath
import re

import yaml

from ..triplecore.terms import (
    RDF_NS,
    RDF_FIRST,
    RDF_NIL,
    RDF_PROPERTY,
    RDF_REST,
    RDF_TYPE,
    RDFS_CLASS,
    RDFS_COMMENT,
    RDFS_DOMAIN,
    RDFS_RANGE,
    RDFS_RESOURCE,
    SH_NS,
    DASH_NS,
    XSD_NS,
    XSD_BOOLEAN,
    XSD_DOUBLE,
    XSD_FLOAT,
    XSD_INTEGER,
    XSD_STRING,
    iri,
    literal,
)

DEFAULT_PREFIX = "http://ericsson.com/models/3gpp/"

# SHACL vocabulary — note or_/and_ keep the trailing underscore on purpose:
# the reference builds them via rdflib Namespace attribute access
# (shacl_converter.py:168-172), producing the invalid-but-golden `sh:or_` URI.
SH = {
    name: ("i", SH_NS + name)
    for name in (
        "NodeShape", "PropertyShape", "targetClass", "property", "path",
        "node", "datatype", "class", "in", "hasValue", "nodeKind", "IRI",
        "or_", "xone", "and_", "minCount", "maxCount", "minLength",
        "maxLength", "pattern", "minInclusive", "maxInclusive",
        "zeroOrMorePath", "equals", "disjoint", "lessThan",
        "lessThanOrEquals",
    )
}
DASH_LIST_SHAPE = ("i", DASH_NS + "ListShape")

# format -> xsd datatype; exact-match and deliberately tiny
# (shacl_converter.py:320-325; unknown formats fall through to xsd:string)
_STRING_FORMAT_MAP = {
    "date-time": ("i", XSD_NS + "dateTime"),
    "full-time": ("i", XSD_NS + "time"),
    "date-month": ("i", XSD_NS + "gMonth"),
    "date-mday": ("i", XSD_NS + "gMonthDay"),
}

_XSD_STRING_T = ("i", XSD_STRING)
_XSD_INTEGER_T = ("i", XSD_INTEGER)
_XSD_DOUBLE_T = ("i", XSD_DOUBLE)
_XSD_FLOAT_T = ("i", XSD_FLOAT)
_XSD_BOOLEAN_T = ("i", XSD_BOOLEAN)

# predicates that count as "value constraints" for the default-nodeKind
# fallthrough (shacl_converter.py:186-196)
_VALUE_CONSTRAINT_PREDS = frozenset(
    SH[n] for n in ("datatype", "class", "node", "in", "hasValue",
                    "nodeKind", "or_", "xone", "and_")
)

# predicates that make a pruning-candidate shape "meaningful"
# (shacl_converter.py:818-831)
_MEANINGFUL_PREDS = frozenset(
    SH[n] for n in ("datatype", "class", "node", "minCount", "maxCount",
                    "minLength", "maxLength", "pattern", "minInclusive",
                    "maxInclusive", "in", "hasValue", "equals", "disjoint",
                    "lessThan", "lessThanOrEquals", "path")
)

_NS_FILE_RE = re.compile(r"(?P<num>TS\d*)_(?P<name>.*)")


def strip_ext(name: str) -> str:
    return posixpath.splitext(name)[0]


def format_name(name: str) -> str:
    """dash->underscore + extension strip (shacl_converter.py:940-943)."""
    return strip_ext(name).replace("-", "_")


def namespace_for_file(filename: str, prefix: str) -> str:
    """TS28623_ComDefs.yaml -> {prefix}TS28623/ComDefs#
    (shacl_converter.py:31-43, 103-112)."""
    stem = strip_ext(posixpath.basename(filename))
    m = _NS_FILE_RE.match(stem)
    if m:
        return f"{prefix}{m.group('num')}/{m.group('name')}#"
    return f"{prefix}rdf/{stem}#"


class ShaclConversion:
    """One file's conversion state: two triple sets + prefix map + warnings."""

    def __init__(self, yaml_file: str, data, base_namespace: str | None,
                 prefix: str):
        self.yaml_file = yaml_file
        self.data = data
        self.ns_prefix = prefix
        self.base_namespace = base_namespace or namespace_for_file(yaml_file, prefix)
        self.rdf: set[tuple] = set()
        self.sh: set[tuple] = set()
        self.warnings: list[str] = []
        self._bn = 0
        file_prefix = format_name(strip_ext(posixpath.basename(yaml_file)))
        self.prefixes: dict[str, str] = {file_prefix: self.base_namespace}
        self.main_ns = self.base_namespace

    # --- term helpers -----------------------------------------------------
    def bnode(self) -> tuple:
        self._bn += 1
        return ("b", f"n{self._bn}")

    def main(self, local: str) -> tuple:
        return ("i", self.main_ns + local)

    # --- graph primitives (rdflib Graph emulation over sets) ---------------
    def sh_preds_of(self, subj: tuple) -> set:
        return {p for (s, p, _o) in self.sh if s == subj}

    def sh_pred_objs(self, subj: tuple) -> list:
        return [(p, o) for (s, p, o) in self.sh if s == subj]

    def sh_objs(self, subj: tuple, pred: tuple) -> list:
        return [o for (s, p, o) in self.sh if s == subj and p == pred]

    # --- driver -------------------------------------------------------------
    def convert(self):
        data = self.data
        if isinstance(data, dict) and "components" in data:
            schemas = data["components"].get("schemas")
            if schemas is not None or "schemas" in data["components"]:
                for name, sdef in (schemas or {}).items():
                    subject = self.main(format_name(name))
                    self.type_clause(subject, None, sdef)

    # --- the recursive interpreter (shacl_converter.py:132-207) -------------
    def type_clause(self, subject, pshape, spec):
        if "$ref" in spec:
            ref = spec["$ref"]
            class_uri = self.resolve_ref(ref)
            if pshape is not None and class_uri is not None:
                if self.ref_is_object(ref):
                    self.sh.add((pshape, SH["class"], class_uri))
                else:
                    dt = self.ref_datatype(ref)
                    if dt is not None:
                        self.sh.add((pshape, SH["datatype"], dt))
            return

        t = spec.get("type")
        if t == "object":
            self.on_object(subject, pshape, spec)
        elif t == "array":
            self.on_array(subject, pshape, spec)
        elif t == "string":
            self.on_string(subject, pshape, spec)
        elif t in ("integer", "number"):
            self.on_numeric(subject, pshape, spec)
        elif "anyOf" in spec:
            self.on_logical(subject, pshape, spec["anyOf"], SH["or_"])
        elif "oneOf" in spec:
            self.on_logical(subject, pshape, spec["oneOf"], SH["xone"])
        elif "allOf" in spec:
            self.on_logical(subject, pshape, spec["allOf"], SH["and_"])

        # GraphDB fallback: a property shape that gained no value constraint
        # gets sh:nodeKind sh:IRI (shacl_converter.py:177-207); this is how
        # boolean properties end up with nodeKind IRI (quirk 2.5#2).
        if pshape is not None and not (self.sh_preds_of(pshape) & _VALUE_CONSTRAINT_PREDS):
            self.sh.add((pshape, SH["nodeKind"], SH["IRI"]))

    # --- object (shacl_converter.py:209-243) --------------------------------
    def on_object(self, subject, pshape, spec):
        if subject is not None:
            self.rdf.add((subject, RDF_TYPE, RDFS_CLASS))
            if "description" in spec:
                self.rdf.add((subject, RDFS_COMMENT, literal(spec["description"])))
            for note in semantic_notes(spec):
                self.rdf.add((subject, RDFS_COMMENT, literal(note)))
            node_shape = self.bnode()
            self.sh.add((node_shape, RDF_TYPE, SH["NodeShape"]))
            self.sh.add((node_shape, SH["targetClass"], subject))
        elif pshape is not None:
            node_shape = self.bnode()
            self.sh.add((node_shape, RDF_TYPE, SH["NodeShape"]))
            self.sh.add((pshape, SH["node"], node_shape))
        else:
            node_shape = None

        props = spec.get("properties")
        if props is not None or "properties" in spec:
            required = spec.get("required", [])
            for pname, pdef in (props or {}).items():
                self.on_property(subject, node_shape, pname, pdef, required)

    # --- property (shacl_converter.py:616-654) -------------------------------
    def on_property(self, domain_class, node_shape, pname, pdef, required):
        predicate = self.main(format_name(pname))
        ptype, range_uri = self.prop_type_and_range(pdef)
        self.rdf.add((predicate, RDF_TYPE, ptype))
        if domain_class is not None:
            self.rdf.add((predicate, RDFS_DOMAIN, domain_class))
        if range_uri is not None:
            self.rdf.add((predicate, RDFS_RANGE, range_uri))
        if "description" in pdef:
            self.rdf.add((predicate, RDFS_COMMENT, literal(pdef["description"])))

        pshape = self.bnode()
        self.sh.add((pshape, RDF_TYPE, SH["PropertyShape"]))
        if node_shape is not None:
            self.sh.add((node_shape, SH["property"], pshape))
        self.sh.add((pshape, SH["path"], predicate))
        if pname in required:
            self.sh.add((pshape, SH["minCount"], literal(1)))
        # every non-array property is capped at 1 — even $refs (quirk 2.5#4)
        if pdef.get("type") != "array" and "items" not in pdef:
            self.sh.add((pshape, SH["maxCount"], literal(1)))
        self.type_clause(domain_class, pshape, pdef)

    # --- array (shacl_converter.py:245-296) ----------------------------------
    def on_array(self, subject, pshape, spec):
        if subject is not None and pshape is None:
            self.rdf.add((subject, RDF_TYPE, RDFS_CLASS))
            if "description" in spec:
                self.rdf.add((subject, RDFS_COMMENT, literal(spec["description"])))
            node_shape = self.bnode()
            self.sh.add((node_shape, RDF_TYPE, SH["NodeShape"]))
            self.sh.add((node_shape, SH["targetClass"], subject))
            pshape = node_shape
        elif pshape is None:
            return

        if pshape is not None and subject is None and "description" in spec:
            self.sh.add((pshape, RDFS_COMMENT, literal(spec["description"])))

        self.sh.add((pshape, SH["node"], DASH_LIST_SHAPE))

        if "items" in spec:
            item_shape = self.bnode()
            self.sh.add((item_shape, RDF_TYPE, SH["PropertyShape"]))
            self.sh.add((item_shape, SH["path"], self.list_sequence_path()))
            if "minItems" in spec:
                self.sh.add((item_shape, SH["minCount"], literal(spec["minItems"])))
            if "maxItems" in spec:
                self.sh.add((item_shape, SH["maxCount"], literal(spec["maxItems"])))
            self.type_clause(subject, item_shape, spec["items"])
            self.sh.add((pshape, SH["property"], item_shape))

    # --- string (shacl_converter.py:298-353) ----------------------------------
    def on_string(self, subject, pshape, spec):
        if subject is not None and pshape is None:
            # top-level string schema: class only, NO shape, NO constraints
            self.rdf.add((subject, RDF_TYPE, RDFS_CLASS))
            if "description" in spec:
                self.rdf.add((subject, RDFS_COMMENT, literal(spec["description"])))
            return
        if pshape is None:
            return

        datatype = _STRING_FORMAT_MAP.get(spec.get("format"), _XSD_STRING_T) \
            if "format" in spec else _XSD_STRING_T
        self.sh.add((pshape, SH["datatype"], datatype))
        if "description" in spec:
            self.sh.add((pshape, RDFS_COMMENT, literal(spec["description"])))
        if datatype == _XSD_STRING_T:
            if "pattern" in spec:
                self.sh.add((pshape, SH["pattern"], literal(spec["pattern"])))
            if "minLength" in spec:
                self.sh.add((pshape, SH["minLength"], literal(spec["minLength"])))
            if "maxLength" in spec:
                self.sh.add((pshape, SH["maxLength"], literal(spec["maxLength"])))
        if "enum" in spec:
            values = ["NULL" if v is None else v for v in spec["enum"]]
            self.sh.add((pshape, SH["in"], self.rdf_list(values)))

    # --- numeric (shacl_converter.py:355-392) ----------------------------------
    def on_numeric(self, subject, pshape, spec):
        if subject is not None and pshape is None:
            self.rdf.add((subject, RDF_TYPE, RDFS_CLASS))
            if "description" in spec:
                self.rdf.add((subject, RDFS_COMMENT, literal(spec["description"])))
            return
        if pshape is None:
            return

        if spec["type"] == "integer":
            datatype = _XSD_INTEGER_T
        else:
            datatype = _XSD_FLOAT_T if spec.get("format", "double") == "float" else _XSD_DOUBLE_T
        self.sh.add((pshape, SH["datatype"], datatype))
        if "description" in spec:
            self.sh.add((pshape, RDFS_COMMENT, literal(spec["description"])))
        if "minimum" in spec:
            self.sh.add((pshape, SH["minInclusive"], literal(spec["minimum"])))
        if "maximum" in spec:
            self.sh.add((pshape, SH["maxInclusive"], literal(spec["maximum"])))

    # --- logical operators (shacl_converter.py:394-614) --------------------------
    def on_logical(self, subject, pshape, operands, operator):
        if subject is not None and pshape is None:
            self.rdf.add((subject, RDF_TYPE, RDFS_CLASS))
            op_name = operator[1].rsplit("#", 1)[-1]  # "or_"/"xone"/"and_"
            self.rdf.add((subject, RDFS_COMMENT, literal(
                f"Note: Uses OpenAPI {op_name} - complex logical constraints partially supported in SHACL")))
            node_shape = self.bnode()
            self.sh.add((node_shape, RDF_TYPE, SH["NodeShape"]))
            self.sh.add((node_shape, SH["targetClass"], subject))
            pshape = node_shape
        if pshape is None:
            return

        has_datatypes = has_classes = False
        for spec in operands:
            if "$ref" in spec:
                if self.ref_is_object(spec["$ref"]):
                    has_classes = True
                else:
                    has_datatypes = True
            elif spec.get("type") in ("string", "number", "integer", "boolean"):
                has_datatypes = True
            else:
                has_classes = True

        if has_datatypes and has_classes:
            self._logical_mixed(subject, pshape, operands)
        elif operator == SH["and_"]:
            # allOf over homogeneous operands: inline everything onto pshape
            for spec in operands:
                if "description" in spec:
                    self.sh.add((pshape, RDFS_COMMENT, literal(spec["description"])))
                self.type_clause(subject, pshape, spec)
        else:
            self._logical_one_any(subject, pshape, operands, operator)

    def _logical_mixed(self, subject, pshape, operands):
        """Mixed datatype+class operand lists (shacl_converter.py:433-520)."""
        datatype_constraints: list = []
        class_constraints: list = []
        for spec in operands:
            if "$ref" in spec:
                ref = spec["$ref"]
                if self.ref_is_object(ref):
                    cu = self.resolve_ref(ref)
                    if cu is not None:
                        class_constraints.append(cu)
                else:
                    dt = self.ref_datatype(ref)
                    if dt is not None:
                        datatype_constraints.append(dt)
            elif spec.get("type") in ("string", "number", "integer", "boolean"):
                datatype_constraints.append(self.spec_datatype(spec))
            else:
                shape = self.bnode()
                self.type_clause(subject, shape, spec)
                class_constraints.append(shape)

        if datatype_constraints:
            datatype_constraints = list(dict.fromkeys(datatype_constraints))
            if len(datatype_constraints) == 1:
                self.sh.add((pshape, SH["datatype"], datatype_constraints[0]))
            else:
                dt_shapes = []
                for dt in datatype_constraints:
                    s = self.bnode()
                    self.sh.add((s, RDF_TYPE, SH["NodeShape"]))
                    self.sh.add((s, SH["datatype"], dt))
                    dt_shapes.append(s)
                self.sh.add((pshape, SH["or_"], self.collection(dt_shapes)))

        if class_constraints:
            class_uris, constraint_shapes = [], []
            for c in class_constraints:
                # IRIs came from resolve_ref; bnodes from the recursive branch
                (class_uris if c[0] == "i" else constraint_shapes).append(c)
            class_uris = list(dict.fromkeys(class_uris))
            all_shapes = []
            for cu in class_uris:
                s = self.bnode()
                self.sh.add((s, RDF_TYPE, SH["NodeShape"]))
                self.sh.add((s, SH["class"], cu))
                all_shapes.append(s)
            all_shapes.extend(constraint_shapes)
            if len(all_shapes) == 1 and len(class_uris) == 1 and not constraint_shapes:
                self.sh.add((pshape, SH["class"], class_uris[0]))
            elif all_shapes:
                self.sh.add((pshape, SH["or_"], self.collection(all_shapes)))

    def _logical_one_any(self, subject, pshape, operands, operator):
        """Homogeneous oneOf/anyOf (shacl_converter.py:530-614): per-operand
        shapes, empty shapes pruned by the global-count heuristic, single
        survivor copy-inlined."""
        valid: list = []
        for spec in operands:
            if spec.get("type") == "object" and "properties" in spec:
                cshape = self.bnode()
                self.sh.add((cshape, RDF_TYPE, SH["NodeShape"]))
                if "description" in spec:
                    self.sh.add((cshape, RDFS_COMMENT, literal(spec["description"])))
                required = spec.get("required", [])
                for pname, pdef in spec.get("properties", {}).items():
                    predicate = self.main(format_name(pname))
                    prop_shape = self.bnode()
                    self.sh.add((prop_shape, RDF_TYPE, SH["PropertyShape"]))
                    self.sh.add((cshape, SH["property"], prop_shape))
                    self.sh.add((prop_shape, SH["path"], predicate))
                    if pname in required:
                        self.sh.add((prop_shape, SH["minCount"], literal(1)))
                    self.type_clause(subject, prop_shape, pdef)
                valid.append(cshape)
            else:
                cshape = self.bnode()
                self.sh.add((cshape, RDF_TYPE, SH["NodeShape"]))
                if "description" in spec:
                    self.sh.add((cshape, RDFS_COMMENT, literal(spec["description"])))
                before = len(self.sh)
                self.type_clause(subject, cshape, spec)
                after = len(self.sh)
                meaningful = bool(self.sh_preds_of(cshape) & _MEANINGFUL_PREDS)
                has_props = bool(self.sh_objs(cshape, SH["property"]))
                # NB: the +1 slack is the reference's own global-count
                # heuristic (shacl_converter.py:590) — kept verbatim
                if meaningful or has_props or (after > before + 1):
                    valid.append(cshape)
                else:
                    for p, o in self.sh_pred_objs(cshape):
                        self.sh.discard((cshape, p, o))

        if valid:
            if len(valid) == 1:
                survivor = valid[0]
                for p, o in self.sh_pred_objs(survivor):
                    if p != RDF_TYPE:
                        self.sh.add((pshape, p, o))
                for p, o in self.sh_pred_objs(survivor):
                    self.sh.discard((survivor, p, o))
            else:
                self.sh.add((pshape, operator, self.collection(valid)))

    # --- range/type inference (shacl_converter.py:656-716) -----------------------
    def prop_type_and_range(self, pdef):
        if "$ref" in pdef:
            ref = pdef["$ref"]
            cu = self.resolve_ref(ref)
            if cu is not None:
                if self.ref_is_object(ref):
                    return RDF_PROPERTY, cu
                dt = self.ref_datatype(ref)
                return RDF_PROPERTY, dt if dt is not None else _XSD_STRING_T
            return RDF_PROPERTY, _XSD_STRING_T
        t = pdef.get("type")
        if t == "string":
            dt = _STRING_FORMAT_MAP.get(pdef.get("format"), _XSD_STRING_T) \
                if "format" in pdef else _XSD_STRING_T
            return RDF_PROPERTY, dt
        if t == "integer":
            return RDF_PROPERTY, _XSD_INTEGER_T
        if t == "number":
            return RDF_PROPERTY, (_XSD_FLOAT_T if pdef.get("format", "double") == "float"
                                  else _XSD_DOUBLE_T)
        if t == "boolean":
            return RDF_PROPERTY, _XSD_BOOLEAN_T
        if t == "object":
            return RDF_PROPERTY, RDFS_RESOURCE
        if t == "array":
            items = pdef.get("items", {})
            if "$ref" in items:
                return RDF_PROPERTY, self.resolve_ref(items["$ref"])
            return RDF_PROPERTY, _XSD_STRING_T
        return RDF_PROPERTY, _XSD_STRING_T

    # --- $ref machinery (shacl_converter.py:718-788) -----------------------------
    def resolve_ref(self, ref: str):
        if ref.startswith("#/components/schemas/"):
            return self.main(format_name(ref.rsplit("/", 1)[-1]))
        if ".yaml#" in ref:
            filename, ref_name = ref.split("#/components/schemas/")
            ext_prefix = format_name(strip_ext(posixpath.basename(filename)))
            if ext_prefix not in self.prefixes:
                self.prefixes[ext_prefix] = namespace_for_file(filename, self.ns_prefix)
            return ("i", self.prefixes[ext_prefix] + format_name(ref_name))
        self.warnings.append(f"Could not resolve reference '{ref}', creating placeholder")
        safe = format_name(ref.replace("/", "_").replace("#", "_"))
        return self.main(f"UnresolvedRef_{safe}")

    @staticmethod
    def ref_is_object(ref: str) -> bool:
        # name-substring heuristic, never loads the target (quirk 2.5#9)
        last = ref.rsplit("/", 1)[-1].lower()
        return not any(x in last for x in ("float", "int", "string", "bool"))

    @staticmethod
    def ref_datatype(ref: str):
        if ref is None:
            return _XSD_STRING_T
        last = ref.rsplit("/", 1)[-1].lower()
        if "float" in last:
            return _XSD_FLOAT_T
        if "int" in last or "integer" in last:
            return _XSD_INTEGER_T
        if "bool" in last:
            return _XSD_BOOLEAN_T
        return _XSD_STRING_T

    @staticmethod
    def spec_datatype(spec):
        t = spec.get("type", "string")
        if t == "string":
            if "format" in spec:
                return _STRING_FORMAT_MAP.get(spec["format"], _XSD_STRING_T)
            return _XSD_STRING_T
        if t == "integer":
            return _XSD_INTEGER_T
        if t == "number":
            return _XSD_DOUBLE_T
        if t == "boolean":
            return _XSD_BOOLEAN_T
        return _XSD_STRING_T

    # --- list builders (shacl_converter.py:794-816, 833-901) ----------------------
    def collection(self, items: list) -> tuple:
        """rdflib.Collection equivalent: cons-cell chain, returns head bnode."""
        head = self.bnode()
        cur = head
        for idx, item in enumerate(items):
            self.sh.add((cur, RDF_FIRST, item))
            if idx + 1 < len(items):
                nxt = self.bnode()
                self.sh.add((cur, RDF_REST, nxt))
                cur = nxt
            else:
                self.sh.add((cur, RDF_REST, RDF_NIL))
        return head

    def list_sequence_path(self) -> tuple:
        """( [ sh:zeroOrMorePath rdf:rest ] rdf:first )"""
        zom = self.bnode()
        self.sh.add((zom, SH["zeroOrMorePath"], RDF_REST))
        return self.collection([zom, RDF_FIRST])

    def rdf_list(self, items: list) -> tuple:
        """Enum list builder with the reference's per-item coercion rules
        (shacl_converter.py:833-901)."""
        if not items:
            return RDF_NIL
        coerced = []
        for item in items:
            if isinstance(item, tuple):
                coerced.append(item)  # already a term
                continue
            s = str(item) if item is not None else ""
            if s.startswith(("http://", "https://", "urn:")):
                coerced.append(("i", s))
            elif s.startswith("xsd:") or "XMLSchema" in s:
                low = s.lower()
                if "string" in low:
                    coerced.append(_XSD_STRING_T)
                elif "integer" in low:
                    coerced.append(_XSD_INTEGER_T)
                elif "double" in low:
                    coerced.append(_XSD_DOUBLE_T)
                elif "boolean" in low:
                    coerced.append(_XSD_BOOLEAN_T)
                elif "float" in low:
                    coerced.append(_XSD_FLOAT_T)
                else:
                    coerced.append(("i", s.replace("xsd:", XSD_NS)))
            else:
                coerced.append(literal(item))
        head = self.bnode()
        cur = head
        for idx, term in enumerate(coerced):
            self.sh.add((cur, RDF_FIRST, term))
            if idx + 1 < len(coerced):
                nxt = self.bnode()
                self.sh.add((cur, RDF_REST, nxt))
                cur = nxt
            else:
                self.sh.add((cur, RDF_REST, RDF_NIL))
        return head


def semantic_notes(spec) -> list[str]:
    """rdfs:comment notes for untranslatable OpenAPI features
    (shacl_converter.py:903-938)."""
    notes = []
    if spec.get("readOnly"):
        notes.append("Note: This property is readOnly in OpenAPI - consider access control in implementation")
    if spec.get("writeOnly"):
        notes.append("Note: This property is writeOnly in OpenAPI - consider access control in implementation")
    if spec.get("nullable"):
        notes.append("Note: This property is nullable in OpenAPI - null vs absent semantics not preserved in RDF")
    if "discriminator" in spec:
        notes.append("Note: Uses OpenAPI discriminator - consider OWL union classes for full polymorphic semantics")
    for op in ("allOf", "anyOf", "oneOf"):
        if op in spec:
            notes.append(f"Note: Uses OpenAPI {op} - complex logical constraints partially supported in SHACL")
    if spec.get("deprecated"):
        notes.append("Note: This schema is deprecated in OpenAPI")
    if "format" in spec and spec.get("type") == "string":
        fv = spec["format"]
        if fv not in ("date-time", "full-time", "date-month", "date-mday"):
            notes.append(f"Note: OpenAPI format '{fv}' constraint not directly expressible in RDF/SHACL")
    return notes


# text libyaml reads differently from the pure-Python loader: it accepts a
# tab inside a plain scalar and a byte-order mark after the start, and reads
# an empty node tagged "!" as '' where yaml.safe_load gives None
_PURE_YAML_ONLY = re.compile(r"\t|.\ufeff|(?:^|[\s\[{,])!(?:$|[\s,\]}])", re.S)


def load_yaml(text: str):
    """``yaml.safe_load(text)``, parsed by libyaml when it is installed.

    Invalid YAML is parsed again by the pure-Python loader, so the error
    raised (and its message) is exactly the one ``yaml.safe_load`` gives.
    Text where the two parsers differ (``_PURE_YAML_ONLY``) goes to the
    pure-Python loader directly.
    """
    if not yaml.__with_libyaml__ or _PURE_YAML_ONLY.search(text):
        return yaml.safe_load(text)
    try:
        return yaml.load(text, Loader=yaml.CSafeLoader)
    except yaml.YAMLError:
        return yaml.safe_load(text)


def convert_shacl(yaml_file: str, yaml_text: str, base_namespace: str | None = None,
                  prefix: str = DEFAULT_PREFIX) -> ShaclConversion:
    """spec text -> conversion result with .rdf / .sh triple sets.

    Deterministic pure function of its arguments — safe to run inside
    Arrow-vectorized Spark stages.
    """
    data = load_yaml(yaml_text)
    if data is None:
        raise ValueError(f"YAML file is empty: {yaml_file}")
    conv = ShaclConversion(yaml_file, data, base_namespace, prefix)
    conv.convert()
    return conv
