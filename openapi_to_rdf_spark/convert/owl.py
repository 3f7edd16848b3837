"""OpenAPI -> OWL ontology triples (the reference's ``--format owl`` mode).

Re-derivation of /root/reference/openapi_to_rdf/rdf_converter.py:10-392 as a
pure function. The reference ships no OWL goldens (output/ holds SHACL-mode
files only), so this mode is pinned by unit tests instead of a golden gate.

Behavioral quirks preserved on purpose:
- namespace is ``base.rstrip('/') + '/' + format_name(stem) + '#'``
  (rdf_converter.py:49-56), unlike SHACL mode's TSxxx/Name# scheme;
- only object / string+enum / oneOf schemas emit anything — arrays, plain
  strings, numerics, allOf/anyOf are silently skipped (rdf_converter.py:154-236);
- the datatype-ref heuristic checks float/int/string but NOT bool
  (rdf_converter.py:250-253), so boolean refs become ObjectProperties;
- unresolvable refs return None, which crashes property processing the same
  way the reference does (caught per-file by the caller).
"""

from __future__ import annotations

import posixpath

from ..triplecore.terms import (
    OWL_NS,
    RDF_TYPE,
    RDFS_COMMENT,
    RDFS_DOMAIN,
    RDFS_LABEL,
    RDFS_RANGE,
    XSD_BOOLEAN,
    XSD_DOUBLE,
    XSD_INTEGER,
    XSD_STRING,
    literal,
)
from .shacl import format_name, load_yaml, strip_ext

OWL_CLASS = ("i", OWL_NS + "Class")
OWL_DATATYPE_PROP = ("i", OWL_NS + "DatatypeProperty")
OWL_OBJECT_PROP = ("i", OWL_NS + "ObjectProperty")
OWL_FUNCTIONAL_PROP = ("i", OWL_NS + "FunctionalProperty")
OWL_NAMED_INDIVIDUAL = ("i", OWL_NS + "NamedIndividual")
OWL_ONE_OF = ("i", OWL_NS + "oneOf")
OWL_MIN_CARD = ("i", OWL_NS + "minCardinality")
OWL_MAX_CARD = ("i", OWL_NS + "maxCardinality")

_XSD_BY_TYPE = {
    "string": ("i", XSD_STRING),
    "integer": ("i", XSD_INTEGER),
    "number": ("i", XSD_DOUBLE),
    "boolean": ("i", XSD_BOOLEAN),
}


def human_readable(name: str) -> str:
    return name.replace("_", " ")


class OwlConversion:
    def __init__(self, yaml_file: str, data, base_namespace: str):
        self.yaml_file = yaml_file
        self.data = data
        self.base = base_namespace
        stem = format_name(strip_ext(posixpath.basename(yaml_file)))
        self.main_ns = base_namespace.rstrip("/") + "/" + stem + "#"
        self.prefixes = {stem: self.main_ns}
        self.g: set[tuple] = set()
        self._bn = 0

    def bnode(self):
        self._bn += 1
        return ("b", f"o{self._bn}")

    def main(self, local: str) -> tuple:
        return ("i", self.main_ns + local)

    def collection(self, items):
        from ..triplecore.terms import RDF_FIRST, RDF_NIL, RDF_REST
        head = self.bnode()
        cur = head
        for i, item in enumerate(items):
            self.g.add((cur, RDF_FIRST, item))
            if i + 1 < len(items):
                nxt = self.bnode()
                self.g.add((cur, RDF_REST, nxt))
                cur = nxt
            else:
                self.g.add((cur, RDF_REST, RDF_NIL))
        return head

    # --- header (rdf_converter.py:88-147) ------------------------------------
    def convert_header(self):
        info = self.data.get("info", {})
        title = info.get("title", "Unknown")
        version = info.get("version", "Unknown")
        description = info.get("description", "")
        external_docs = self.data.get("externalDocs", {})

        class_uri = self.main(format_name(title.replace(" ", "")))
        self.g.add((class_uri, RDF_TYPE, OWL_CLASS))
        self.g.add((class_uri, RDFS_LABEL, literal(title)))
        self.g.add((class_uri, RDFS_COMMENT,
                    literal(f"Class representing the {title} document metadata.")))

        p_version = self.main("version")
        self.g.add((p_version, RDF_TYPE, OWL_FUNCTIONAL_PROP))
        self.g.add((p_version, RDFS_DOMAIN, class_uri))
        self.g.add((p_version, RDFS_RANGE, ("i", XSD_STRING)))
        self.g.add((p_version, RDFS_LABEL, literal("Version")))
        self.g.add((p_version, RDFS_COMMENT, literal("The version of the document.")))

        p_desc = self.main("description")
        self.g.add((p_desc, RDF_TYPE, OWL_DATATYPE_PROP))
        self.g.add((p_desc, RDFS_DOMAIN, class_uri))
        self.g.add((p_desc, RDFS_RANGE, ("i", XSD_STRING)))
        self.g.add((p_desc, RDFS_LABEL, literal("Description")))
        self.g.add((p_desc, RDFS_COMMENT, literal("A description of the document.")))

        if "url" in external_docs:
            p_url = self.main("url")
            self.g.add((p_url, RDF_TYPE, OWL_DATATYPE_PROP))
            self.g.add((p_url, RDFS_DOMAIN, class_uri))
            self.g.add((p_url, RDFS_RANGE, ("i", XSD_STRING)))
            self.g.add((p_url, RDFS_LABEL, literal("URL")))
            self.g.add((p_url, RDFS_COMMENT,
                        literal("The URL for external documentation related to the document.")))

        inst = self.main(format_name(title.replace(" ", "")) + "Instance")
        self.g.add((inst, RDF_TYPE, class_uri))
        self.g.add((inst, p_version, literal(version)))
        self.g.add((inst, p_desc, literal(description)))
        if "url" in external_docs:
            self.g.add((inst, self.main("url"), literal(external_docs["url"])))

    # --- schemas (rdf_converter.py:154-236) -----------------------------------
    def convert(self):
        if isinstance(self.data, dict) and "openapi" in self.data:
            self.convert_header()
        if (isinstance(self.data, dict) and "components" in self.data
                and "schemas" in self.data["components"]):
            for name, sdef in self.data["components"]["schemas"].items():
                self.process_schema(name, sdef)

    def process_schema(self, name, sdef):
        safe = format_name(name)
        class_uri = self.main(safe)

        if sdef.get("type") == "object":
            self.g.add((class_uri, RDF_TYPE, OWL_CLASS))
            self.g.add((class_uri, RDFS_LABEL, literal(human_readable(safe))))
            if "description" in sdef:
                self.g.add((class_uri, RDFS_COMMENT, literal(sdef["description"])))
            required = sdef.get("required", [])
            for pname, pdef in sdef.get("properties", {}).items():
                self.process_property(class_uri, pname, pdef, required)

        elif sdef.get("type") == "string" and "enum" in sdef:
            self.g.add((class_uri, RDF_TYPE, OWL_CLASS))
            self.g.add((class_uri, RDFS_LABEL, literal(human_readable(safe))))
            self.g.add((class_uri, RDFS_COMMENT,
                        literal(f"Enumeration of {human_readable(safe)} values.")))
            individuals = []
            for val in sdef["enum"]:
                ind = self.main(format_name(str(val)))
                self.g.add((ind, RDF_TYPE, OWL_NAMED_INDIVIDUAL))
                self.g.add((ind, RDFS_LABEL, literal(str(val))))
                self.g.add((ind, RDFS_COMMENT,
                            literal(f"Indicates that the {human_readable(safe)} value is {val}.")))
                individuals.append(ind)
            self.g.add((class_uri, OWL_ONE_OF, self.collection(individuals)))

        elif "oneOf" in sdef:
            self.g.add((class_uri, RDF_TYPE, OWL_CLASS))
            self.g.add((class_uri, RDFS_LABEL, literal(human_readable(safe))))
            self.g.add((class_uri, RDFS_COMMENT, literal(
                f"Represents a resource that can be one of several types related to {human_readable(safe)}.")))
            items = []
            for option in sdef["oneOf"]:
                if "$ref" in option:
                    ref_uri = self.resolve_reference(option["$ref"])
                    if ref_uri is not None:
                        items.append(ref_uri)
            if items:
                self.g.add((class_uri, OWL_ONE_OF, self.collection(items)))
        # everything else (arrays, scalars, allOf/anyOf) is skipped by design

    def process_property(self, domain_uri, pname, pdef, required):
        safe = format_name(pname)
        prop_uri = self.main(safe)

        if "$ref" in pdef:
            ref_uri = self.resolve_reference(pdef["$ref"])
            last = ref_uri[1].rsplit("/", 1)[-1].lower()
            # NB: no "bool" here — boolean refs become ObjectProperties
            prop_type = OWL_DATATYPE_PROP if any(
                x in last for x in ("float", "int", "string")) else OWL_OBJECT_PROP
            range_uri = ref_uri
        elif pdef.get("type") in _XSD_BY_TYPE:
            prop_type = OWL_DATATYPE_PROP
            range_uri = _XSD_BY_TYPE[pdef["type"]]
        elif pdef.get("type") == "object":
            self.process_schema(pname, pdef)
            prop_type = OWL_OBJECT_PROP
            range_uri = self.main(format_name(pname))
        elif pdef.get("type") == "array":
            items = pdef.get("items", {})
            if "$ref" in items:
                ref_uri = self.resolve_reference(items["$ref"])
                last = ref_uri[1].rsplit("/", 1)[-1].lower()
                prop_type = OWL_DATATYPE_PROP if any(
                    x in last for x in ("float", "int", "string")) else OWL_OBJECT_PROP
                range_uri = ref_uri
            elif "type" in items:
                prop_type = OWL_DATATYPE_PROP
                range_uri = _XSD_BY_TYPE.get(items["type"], ("i", XSD_STRING))
            else:
                prop_type = OWL_DATATYPE_PROP
                range_uri = ("i", XSD_STRING)
        else:
            prop_type = OWL_DATATYPE_PROP
            range_uri = ("i", XSD_STRING)

        self.g.add((prop_uri, RDF_TYPE, prop_type))
        self.g.add((prop_uri, RDFS_DOMAIN, domain_uri))
        self.g.add((prop_uri, RDFS_RANGE, range_uri))
        self.g.add((prop_uri, RDFS_LABEL, literal(human_readable(safe))))
        self.g.add((prop_uri, RDFS_COMMENT,
                    literal(f"Property representing the {human_readable(safe)}.")))

        if required and pname in required:
            self.g.add((prop_uri, OWL_MIN_CARD, literal(1)))
            if pdef.get("type") != "array":
                if prop_type == OWL_DATATYPE_PROP:
                    self.g.add((prop_uri, RDF_TYPE, OWL_FUNCTIONAL_PROP))
                else:
                    self.g.add((prop_uri, OWL_MAX_CARD, literal(1)))

    def resolve_reference(self, ref):
        if ref.startswith("#/components/schemas/"):
            return self.main(format_name(ref.rsplit("/", 1)[-1]))
        if ".yaml#" in ref:
            filename, ref_name = ref.split("#/components/schemas/")
            ext_prefix = format_name(strip_ext(posixpath.basename(filename)))
            if ext_prefix not in self.prefixes:
                base = self.base.rstrip("/") + "/"
                stem = posixpath.basename(filename).replace(".yaml", "")
                self.prefixes[ext_prefix] = f"{base}{stem}#"
            return ("i", self.prefixes[ext_prefix] + format_name(ref_name))
        return None


def convert_owl(yaml_file: str, yaml_text: str, base_namespace: str) -> OwlConversion:
    data = load_yaml(yaml_text)
    conv = OwlConversion(yaml_file, data, base_namespace)
    conv.convert()
    return conv
