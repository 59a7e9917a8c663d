"""Pure-Python entity assembly — the God-factory oracle.

Replicates the reference's factory/merge layer
(src/indu_doc/god.py:237-565 create_* +
page_processor.py:107-521 handlers) over the kernel's normalized rows,
producing the same entity sets the Spark assembly
(operators/assembly.py) must produce. Used as the test oracle for the
distributed implementation — NOT in the hot path.

Merge semantics (SURVEY.md 2.6): same GUID -> same object; attribute
sets union; xtarget type upgraded by priority CABLE>DEVICE>STRIP>OTHER
(xtarget.py:34-39).
"""

from __future__ import annotations

from typing import Optional

from indu_doc_transformer_spark.config import DEFAULT_ASPECTS, AspectsConfig
from indu_doc_transformer_spark.kernels import tagparse as tp
from indu_doc_transformer_spark.kernels.layout import extract_document
from indu_doc_transformer_spark.operators.sqlite_sink import _jdump

TYPE_PRIORITY = {"cable": 3, "device": 2, "strip": 1, "other": 0}


class Assembly:
    def __init__(self, config: AspectsConfig = DEFAULT_ASPECTS):
        self.config = config
        self.xtargets: dict[str, dict] = {}
        self.aspects: dict[str, dict] = {}
        self.connections: dict[str, dict] = {}
        self.links: dict[str, dict] = {}
        self.pins: dict[str, dict] = {}
        self.attributes: dict[str, dict] = {}
        self.object_attrs: set[tuple[str, str]] = set()
        self.lineage: set[tuple[str, int, str, str]] = set()
        self._base_errors: list[tuple[str, int, str, str]] = []
        self._seen_tags: set[str] = set()
        # invalid completed tags and the smallest (url, page_no) that
        # encountered them: the reference attributes the one-per-tag
        # "Tag is invalid" warning to the first processing encounter,
        # which has no distributed analog — both this oracle and the
        # Spark assembly use min(url, page_no) as the deterministic
        # stand-in (operators/assembly.py invalid_errors)
        self._invalid_tags: set[str] = set()
        self._invalid_sites: dict[str, tuple[str, int]] = {}

    @property
    def errors(self) -> list[tuple[str, int, str, str]]:
        return self._base_errors + [
            (url, page_no, "WARNING", f"Tag is invalid: {t}")
            for t, (url, page_no) in self._invalid_sites.items()
        ]

    # -- factories ---------------------------------------------------

    def error(self, url, page_no, msg, severity="WARNING"):
        self._base_errors.append((url, page_no, severity, msg))

    def create_attribute(self, attr_type: str, name: str, value) -> str:
        if attr_type == "SIMPLE":
            guid = tp.simple_attribute_guid(name, value)
            vj = _jdump({"value": value})
        elif attr_type == "ROUTING_TRACKS":
            tracks = value.split(";") if isinstance(value, str) else list(value)
            guid = tp.routing_tracks_attribute_guid(name, tracks)
            # canonical sorted order: guid is order-insensitive, so the
            # stored list must be too (see operators/assembly._routing_attr)
            vj = _jdump({"tracks": sorted(tracks)})
        elif attr_type == "PLC_ADDRESS":
            guid = tp.plc_address_attribute_guid(name, value)
            vj = _jdump({"meta": value})
        elif attr_type == "PDF_LOCATION":
            page_no, loc_repr = value
            guid = tp.pdf_location_attribute_guid(name, page_no, loc_repr)
            vj = _jdump({"page_no": page_no, "bbox": loc_repr})
        else:
            raise ValueError(attr_type)
        self.attributes.setdefault(
            guid, {"guid": guid, "name": name, "type": attr_type, "value_json": vj}
        )
        return guid

    def _register_aspect(self, sep: str, value: str, attrs=()) -> str:
        guid = tp.aspect_guid(sep, value)
        self.aspects.setdefault(guid, {"guid": guid, "separator": sep, "value": value})
        for a in attrs:
            self.object_attrs.add((guid, a))
        return guid

    def create_aspect(self, tag_str: str, url, page_no, attrs=()) -> Optional[str]:
        """god.py:302-340 — raw parse, exactly one sep x one value."""
        parsed = tp.try_parse_tag(tag_str, tuple(self.config.separators))
        if not parsed:
            self.error(url, page_no, f"Failed to create aspect with tag: '{tag_str}'")
            return None
        sep, vals = next(iter(parsed.items()))
        if len(parsed) != 1 or len(vals) != 1:
            self.error(
                url,
                page_no,
                f"Failed to create aspect with tag: '{tag_str}' - has composite structure",
            )
            return None
        return self._register_aspect(sep, vals[0], attrs)

    def create_tag(self, tag_str: str, footer_tags: list[str], url, page_no) -> str:
        """god.py:255-299 — footer completion + per-level aspects, cached
        by completed tag string; returns the completed tag."""
        completed = tp.complete_tag_with_footer(tag_str, footer_tags, self.config)
        if completed not in self._seen_tags:
            parts = tp.tag_parts(completed, self.config)
            for sep, values in parts.items():
                if len(values) == 0:
                    self._register_aspect(sep, "")
                else:
                    for v in values:
                        self._register_aspect(sep, v)
            if not parts:
                self._invalid_tags.add(completed)
            self._seen_tags.add(completed)
        if completed in self._invalid_tags:
            site = (url, page_no)
            cur = self._invalid_sites.get(completed)
            if cur is None or site < cur:
                self._invalid_sites[completed] = site
        return completed

    def create_xtarget(
        self, tag_str: str, url, page_no, target_type="other", attrs=(), footer_tags=()
    ) -> Optional[str]:
        """god.py:343-396 — pin prohibition, footer completion, priority
        merge, attribute union, lineage append."""
        if tp.is_pin_tag(tag_str):
            return None
        completed = self.create_tag(tag_str, list(footer_tags), url, page_no)
        guid = tp.xtarget_guid(completed)
        existing = self.xtargets.get(guid)
        if existing is None:
            self.xtargets[guid] = {"guid": guid, "tag": completed, "target_type": target_type}
        elif TYPE_PRIORITY[target_type] > TYPE_PRIORITY[existing["target_type"]]:
            existing["target_type"] = target_type
        for a in attrs:
            self.object_attrs.add((guid, a))
        self.lineage.add((url, page_no, guid, "xtarget"))
        return guid

    def create_connection(
        self, tag, tag_from, tag_to, url, page_no, attrs=(), loc=None, footer_tags=()
    ) -> str:
        """god.py:470-505 — through cable gets the full attribute tuple;
        endpoints get only the location attribute."""
        through = (
            self.create_xtarget(tag, url, page_no, "cable", attrs, footer_tags)
            if tag
            else None
        )
        src = self.create_xtarget(
            tag_from, url, page_no, "device", (loc,) if loc else (), footer_tags
        )
        dst = self.create_xtarget(
            tag_to, url, page_no, "device", (loc,) if loc else (), footer_tags
        )
        guid = tp.connection_guid(src, dst, through)
        self.connections.setdefault(
            guid,
            {"guid": guid, "src_guid": src, "dst_guid": dst, "through_guid": through},
        )
        self.lineage.add((url, page_no, guid, "connection"))
        return guid

    def create_connection_with_link(
        self, tag, pin_tag_from, pin_tag_to, url, page_no, attrs=(), loc=None, footer_tags=()
    ):
        """god.py:507-565."""
        tag_from, pin_from = tp.split_pin_tag(pin_tag_from)
        tag_to, pin_to = tp.split_pin_tag(pin_tag_to)
        if not (pin_from and pin_to):
            self.error(
                url,
                page_no,
                f"Linked connection where one/no pins specified: `{pin_from}` `{pin_to}`",
            )
            return
        if not (tag_from and tag_to):
            self.error(
                url,
                page_no,
                f"Linked connection where one/no targets specified: `{tag_from}` `{tag_to}`",
            )
            return
        conn = self.create_connection(
            tag, tag_from, tag_to, url, page_no, (loc,) if loc else (), loc, footer_tags
        )
        name = tag or "virtual_link"
        lg = tp.link_guid(name, pin_from, pin_to, conn)
        self.links.setdefault(
            lg,
            {
                "guid": lg,
                "name": name,
                "connection_guid": conn,
                "src_pin_name": pin_from,
                "dest_pin_name": pin_to,
            },
        )
        for a in attrs:
            self.object_attrs.add((lg, a))
        self.lineage.add((url, page_no, lg, "link"))
        for role, pin in (("src", pin_from), ("dst", pin_to)):
            for p in tp.pin_chain(pin, role, lg):
                self.pins.setdefault(p["guid"], p)

    def xtarget_aspects(self) -> set[tuple[str, str, int]]:
        """xtarget <-> aspect relation with per-xtarget sort_order
        (reference db_builder/db.py:222-240): aspects enumerated in
        config separator order, empty levels contributing the
        empty-value aspect, sort_order counting across all levels."""
        out: set[tuple[str, str, int]] = set()
        for guid, x in self.xtargets.items():
            parts = tp.tag_parts(x["tag"], self.config)
            if not parts:
                continue
            sort_order = 0
            for sep, values in parts.items():
                for v in values if values else ("",):
                    out.add((guid, tp.aspect_guid(sep, v), sort_order))
                    sort_order += 1
        return out

    # -- handlers (page_processor.py:107-521) -------------------------

    @staticmethod
    def _get(row_cols: dict, name: str) -> str:
        return str(row_cols.get(name, "")).strip()

    def _simple_attrs(self, cols: dict, exclude: set[str]) -> list[str]:
        out = []
        for name in cols:
            if name in exclude or name.startswith("_"):
                continue
            value = self._get(cols, name)
            if name != "" and value != "":
                out.append(self.create_attribute("SIMPLE", name, value))
        return out

    def _loc_attr(self, page_no: int, loc_repr: Optional[str]) -> Optional[str]:
        if loc_repr is None:
            return None
        return self.create_attribute("PDF_LOCATION", "location", (page_no, loc_repr))

    def process_row(self, url, page_no, page_type, footer_tags, row):
        idx, cols, loc_repr = row["row_idx"], row["cols"], row["loc_repr"]
        handler = {
            "connection_list": self._h_connection_list,
            "device_tag_list": self._h_device_tag_list,
            "cable_overview": self._h_cable_overview,
            "topology": self._h_topology,
            "wires_part_list": self._h_wires,
            "cable_diagram": self._h_cable_diagram,
            "terminal_diagram": self._h_terminal,
            "structure_identifier_overview": self._h_structure,
            "plc_diagram": self._h_plc,
        }.get(page_type)
        if handler:
            handler(url, page_no, footer_tags, idx, cols, loc_repr)

    def _h_connection_list(self, url, page_no, foot, idx, cols, loc_repr):
        tag_from = self._get(cols, "src_pin_tag")
        tag_to = self._get(cols, "dst_pin_tag")
        if tag_from == "" or tag_to == "":
            self.error(
                url,
                page_no,
                f"row #{idx} skipped: one/both of the connection targets are empty "
                f"(is that intended?): `{tag_from}` `{tag_to}`",
            )
            return
        attrs = self._simple_attrs(cols, {"src_pin_tag", "dst_pin_tag", "name"})
        loc = self._loc_attr(page_no, loc_repr)
        if loc:
            attrs.append(loc)
        self.create_connection_with_link(
            None, tag_from, tag_to, url, page_no, tuple(attrs), loc, foot
        )

    def _h_device_tag_list(self, url, page_no, foot, idx, cols, loc_repr):
        tag = self._get(cols, "tag")
        if tag == "":
            self.error(
                url, page_no,
                f"row #{idx} skipped: empty device tag (is that intended?): `{tag}`",
            )
            return
        attrs = self._simple_attrs(cols, {"tag"})
        loc = self._loc_attr(page_no, loc_repr)
        if loc:
            attrs.append(loc)
        self.create_xtarget(tag, url, page_no, "device", tuple(attrs), foot)

    def _h_cable_overview(self, url, page_no, foot, idx, cols, loc_repr):
        tag = self._get(cols, "cable_tag")
        tag_from = self._get(cols, "src_tag")
        tag_to = self._get(cols, "dst_tag")
        if tag == "" or (tag_from == "" and tag_to == ""):
            self.error(
                url, page_no,
                f"row #{idx} skipped: empty cable tag (is that intended?): "
                f"`{tag}` from=`{tag_from}` to=`{tag_to}`",
            )
            return
        attrs = self._simple_attrs(cols, {"cable_tag", "src_tag", "dst_tag"})
        loc = self._loc_attr(page_no, loc_repr)
        if loc:
            attrs.append(loc)
        if tag_from and tag_to:
            self.create_connection(
                tag, tag_from, tag_to, url, page_no, tuple(attrs), loc, foot
            )

    def _h_topology(self, url, page_no, foot, idx, cols, loc_repr):
        tag = self._get(cols, "designation")
        tags_src = self._get(cols, "src_tags")
        tags_dst = self._get(cols, "dst_tags")
        tags_route = self._get(cols, "route")
        if tag == "" or tags_src == "" or tags_dst == "" or tags_route == "":
            self.error(
                url, page_no,
                f"row #{idx} skipped: empty topology tag (is that intended?): "
                f"`{tag}` from=`{tags_src}` to=`{tags_dst}` route=`{tags_route}`",
            )
            return
        attrs = self._simple_attrs(cols, {"designation", "src_tags", "dst_tags", "route"})
        loc = self._loc_attr(page_no, loc_repr)
        if loc:
            attrs.append(loc)
        attrs.append(self.create_attribute("ROUTING_TRACKS", "route", tags_route))
        for t1 in tags_src.split(";"):
            for t2 in tags_dst.split(";"):
                self.create_connection(
                    tag, t1, t2, url, page_no, tuple(attrs), loc, foot
                )

    def _h_wires(self, url, page_no, foot, idx, cols, loc_repr):
        tag_src = self._get(cols, "src_pin_tag")
        tag_dst = self._get(cols, "dst_pin_tag")
        tags_route = self._get(cols, "route")
        if tag_src == "" or tag_dst == "":
            self.error(
                url, page_no,
                f"row #{idx} skipped: empty wire connection info (is that intended?): "
                f"from=`{tag_src}` to=`{tag_dst}`",
            )
            return
        attrs = self._simple_attrs(cols, {"src_pin_tag", "dst_pin_tag", "route"})
        loc = self._loc_attr(page_no, loc_repr)
        if loc:
            attrs.append(loc)
        if tags_route != "":
            attrs.append(self.create_attribute("ROUTING_TRACKS", "route", tags_route))
        self.create_connection_with_link(
            None, tag_src, tag_dst, url, page_no, tuple(attrs), loc, foot
        )

    def _h_cable_diagram(self, url, page_no, foot, idx, cols, loc_repr):
        tag = self._get(cols, "cable_tag")
        tag_src = self._get(cols, "src_tag")
        tag_dst = self._get(cols, "dst_tag")
        pin_src = self._get(cols, "src_pin")
        pin_dst = self._get(cols, "dst_pin")
        if tag_src == "" and tag_dst == "" and pin_src == "" and pin_dst == "":
            self.error(
                url, page_no,
                f"row #{idx} skipped: empty cable diagram info (is that intended?): "
                f"`{tag}` from=`{tag_src}``{pin_src}` to=`{tag_dst}``{pin_dst}` ",
            )
            return
        attrs = self._simple_attrs(
            cols, {"cable_tag", "src_tag", "src_pin", "dst_tag", "dst_pin"}
        )
        loc = self._loc_attr(page_no, loc_repr)
        if loc:
            attrs.append(loc)
        src_pairs = list(zip(tag_src.split(";"), pin_src.split(";"), tag.split(";")))
        dst_pairs = list(zip(tag_dst.split(";"), pin_dst.split(";")))
        for (t_s, p_s, t_) in src_pairs:
            for (t_d, p_d) in dst_pairs:
                self.create_connection_with_link(
                    t_, f"{t_s}:{p_s}", f"{t_d}:{p_d}", url, page_no,
                    tuple(attrs), loc, foot,
                )

    def _h_terminal(self, url, page_no, foot, idx, cols, loc_repr):
        """page_processor.py:503-521 — split by _1/_2 prefix, run each
        side through the cable-diagram handler."""
        base = {k: v for k, v in cols.items() if not k.startswith(("_1", "_2"))}
        for prefix in ("_1", "_2"):
            side = dict(base)
            for k, v in cols.items():
                if k.startswith(prefix):
                    side[k[len(prefix):]] = v
            self._h_cable_diagram(url, page_no, foot, idx, side, loc_repr)

    def _h_structure(self, url, page_no, foot, idx, cols, loc_repr):
        tag = self._get(cols, "tag")
        attrs = self._simple_attrs(cols, {"tag"})
        loc = self._loc_attr(page_no, loc_repr)
        if loc:
            attrs.append(loc)
        self.create_aspect(tag, url, page_no, tuple(attrs))

    def _h_plc(self, url, page_no, foot, idx, cols, loc_repr):
        tag = self._get(cols, "tag")
        plc_addr = self._get(cols, "plc_addr")
        if tag == "" or plc_addr == "":
            self.error(
                url, page_no,
                f"row #{idx} skipped: empty PLC diagram info (is that intended?): "
                f"`{tag}` addr=`{plc_addr}`",
            )
            return
        meta = {}
        for name in cols:
            if name in ("tag", "plc_addr") or name.startswith("_"):
                continue
            value = self._get(cols, name)
            if name and value:
                meta[name] = value
        attrs = [self.create_attribute("PLC_ADDRESS", plc_addr, meta)]
        loc = self._loc_attr(page_no, loc_repr)
        if loc:
            attrs.append(loc)
        self.create_xtarget(tag, url, page_no, "device", tuple(attrs), foot)


def assemble_documents(docs: list[dict], config: AspectsConfig = DEFAULT_ASPECTS) -> Assembly:
    """Run extraction + assembly over raw corpus docs (test oracle)."""
    asm = Assembly(config)
    for d in docs:
        r = extract_document(d["html"])
        if not r["rows"]:
            continue
        footer_tags = r["footer"]["tags"] if r["footer"] else []
        for row in r["rows"]:
            asm.process_row(d["url"], 1, r["page_type"], footer_tags, row)
    return asm
