"""Arrow-native parse stage: mapInArrow + hand-built RecordBatches.

The pandas path (mapInPandas with object columns holding lists of dicts)
spends ~4× the parser's own CPU on dict construction + pandas→Arrow type
inference. Here the parser output is accumulated into FLAT Python lists and
converted with single pa.array() calls, then assembled into ListArray/
StructArray with explicit offsets — the Arrow conversion becomes a handful
of C-level calls per batch instead of per-value inference.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa

from . import wikitext
from .dataparsers import property_iri
from .namespaces import (
    normalize_title,
    resource_base,
    title_with_namespace,
    wiki_base,
    wiki_encode,
)

_LINK_FIELDS = [
    ("target", pa.string()),
    ("ns", pa.int32()),
    ("iw", pa.string()),
    ("label", pa.string()),
    ("line", pa.int32()),
    ("iri", pa.string()),
    ("begin", pa.int64()),   # anchor offsets in plain_text (null when the
    ("end", pa.int64()),     # occurrence does not render into plain text)
]
_EXT_FIELDS = [("uri", pa.string()), ("label", pa.string()), ("line", pa.int32())]
_PARAM_FIELDS = [("key", pa.string()), ("value", pa.string()), ("explicit", pa.bool_())]
_TPL_FIELDS = [
    ("name", pa.string()),
    ("depth", pa.int32()),
    ("pos", pa.int32()),
    ("line", pa.int32()),
    ("iri", pa.string()),
]
_SECTION_FIELDS = [
    ("name", pa.string()),
    ("level", pa.int32()),
    ("line", pa.int32()),
    ("begin", pa.int64()),   # content span in plain_text (null when the
    ("end", pa.int64()),     # section never rendered into plain text)
]
_CELL_FIELDS = [("row", pa.int32()), ("col", pa.int32()), ("text", pa.string()), ("header", pa.bool_())]
_REF_FIELDS = [("key", pa.string()), ("prop_iri", pa.string()), ("text", pa.string()), ("cite_iri", pa.string())]
_GALLERY_FIELDS = [("file", pa.string()), ("enc", pa.string()), ("caption", pa.string())]


def _list_of_structs(offsets: list[int], cols: list[list], fields) -> pa.ListArray:
    struct = pa.StructArray.from_arrays(
        [pa.array(c, f[1]) for c, f in zip(cols, fields)], names=[f[0] for f in fields]
    )
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), struct)


def parse_record_batch(batch: pa.RecordBatch) -> pa.RecordBatch:
    content = batch.column(batch.schema.get_field_index("content")).to_pylist()
    langs = batch.column(batch.schema.get_field_index("lang")).to_pylist()
    nss = batch.column(batch.schema.get_field_index("namespace")).to_pylist()
    titles = batch.column(batch.schema.get_field_index("title")).to_pylist()

    n = len(content)
    subjects: list[str] = []
    page_iris: list[str] = []
    redirects: list[str | None] = []
    # links (flat + offsets)
    l_off = [0]
    l_target: list[str] = []
    l_ns: list[int] = []
    l_iw: list[str] = []
    l_label: list[str] = []
    l_line: list[int] = []
    l_iri: list[str] = []
    l_begin: list[int | None] = []
    l_end: list[int | None] = []
    # external links
    e_off = [0]
    e_uri: list[str] = []
    e_label: list[str] = []
    e_line: list[int] = []
    # templates + params
    t_off = [0]
    t_name: list[str] = []
    t_depth: list[int] = []
    t_pos: list[int] = []
    t_line: list[int] = []
    t_iri: list[str] = []
    p_off = [0]  # one entry per template
    p_key: list[str] = []
    p_value: list[str] = []
    p_explicit: list[bool] = []
    # param decls
    d_off = [0]
    d_val: list[str] = []
    # sections
    s_off = [0]
    s_name: list[str] = []
    s_level: list[int] = []
    s_line: list[int] = []
    s_begin: list[int | None] = []
    s_end: list[int | None] = []
    # tables + cells
    tb_off = [0]
    tb_caption: list[str] = []
    tb_nrows: list[int] = []
    c_off = [0]  # one entry per table
    c_row: list[int] = []
    c_col: list[int] = []
    c_text: list[str] = []
    c_hdr: list[bool] = []
    # refs
    rf_off = [0]
    rf_key: list[str | None] = []
    rf_iri: list[str | None] = []
    rf_text: list[str] = []
    rf_cite: list[str | None] = []
    # galleries
    g_off = [0]
    g_file: list[str] = []
    g_enc: list[str] = []
    g_caption: list[str] = []
    coord_lat: list[float | None] = []
    coord_lon: list[float | None] = []
    n_tables: list[int] = []
    plains: list[str] = []
    abstracts: list[str] = []
    errors: list[int] = []

    for c, lg, ns, title in zip(content, langs, nss, titles):
        r = wikitext.parse(c, lg or "en")
        rb = resource_base(lg)
        subjects.append(rb + wiki_encode(title_with_namespace(int(ns), normalize_title(title or ""))))
        page_iris.append(wiki_base(lg) + wiki_encode(normalize_title(title or "")))
        redirects.append(r.redirect)
        for l in r.links:
            l_target.append(l.target)
            l_ns.append(l.ns)
            l_iw.append(l.iw)
            l_label.append(l.label)
            l_line.append(l.line)
            base = resource_base(l.iw or lg)
            l_iri.append(base + wiki_encode(title_with_namespace(l.ns, l.target)))
            l_begin.append(l.begin)
            l_end.append(l.end)
        l_off.append(len(l_target))
        for e in r.external_links:
            e_uri.append(e.uri)
            e_label.append(e.label)
            e_line.append(e.line)
        e_off.append(len(e_uri))
        for t in r.templates:
            t_name.append(t.name)
            t_depth.append(t.depth)
            t_pos.append(t.pos)
            t_line.append(t.line)
            t_iri.append(rb + wiki_encode("Template:" + t.name))
            for p in t.params:
                p_key.append(p.key)
                p_value.append(p.value)
                p_explicit.append(p.explicit)
            p_off.append(len(p_key))
        t_off.append(len(t_name))
        d_val.extend(r.param_decls)
        d_off.append(len(d_val))
        for sec in r.sections:
            s_name.append(sec.name)
            s_level.append(sec.level)
            s_line.append(sec.line)
            s_begin.append(sec.begin)
            s_end.append(sec.end)
        s_off.append(len(s_name))
        for tb in r.tables:
            tb_caption.append(tb.caption)
            tb_nrows.append(tb.n_rows)
            for c in tb.cells:
                c_row.append(c.row)
                c_col.append(c.col)
                c_text.append(c.text)
                c_hdr.append(c.header)
            c_off.append(len(c_row))
        tb_off.append(len(tb_caption))
        for key, text, raw in r.refs:
            rf_key.append(key)
            rf_iri.append(property_iri(lg, key) if key else None)
            rf_text.append(text)
            rf_cite.append(wikitext.first_cite_iri(raw) if key else None)
        rf_off.append(len(rf_key))
        for gfile, gcap in r.galleries:
            g_file.append(gfile)
            g_enc.append(wiki_encode(gfile))
            g_caption.append(gcap)
        g_off.append(len(g_file))
        cc = r.first_coord()
        coord_lat.append(cc[0] if cc else None)
        coord_lon.append(cc[1] if cc else None)
        n_tables.append(r.n_tables)
        plains.append(r.plain)
        abstracts.append(r.abstract)
        errors.append(r.errors)

    links_arr = _list_of_structs(
        l_off, [l_target, l_ns, l_iw, l_label, l_line, l_iri, l_begin, l_end], _LINK_FIELDS
    )
    ext_arr = _list_of_structs(e_off, [e_uri, e_label, e_line], _EXT_FIELDS)
    params_struct = pa.StructArray.from_arrays(
        [pa.array(p_key, pa.string()), pa.array(p_value, pa.string()), pa.array(p_explicit, pa.bool_())],
        names=["key", "value", "explicit"],
    )
    params_list = pa.ListArray.from_arrays(pa.array(p_off, pa.int32()), params_struct)
    tpl_struct = pa.StructArray.from_arrays(
        [
            pa.array(t_name, pa.string()),
            pa.array(t_depth, pa.int32()),
            pa.array(t_pos, pa.int32()),
            pa.array(t_line, pa.int32()),
            pa.array(t_iri, pa.string()),
            params_list,
        ],
        names=["name", "depth", "pos", "line", "iri", "params"],
    )
    tpl_arr = pa.ListArray.from_arrays(pa.array(t_off, pa.int32()), tpl_struct)
    decls_arr = pa.ListArray.from_arrays(pa.array(d_off, pa.int32()), pa.array(d_val, pa.string()))
    cells_struct = pa.StructArray.from_arrays(
        [pa.array(c_row, pa.int32()), pa.array(c_col, pa.int32()),
         pa.array(c_text, pa.string()), pa.array(c_hdr, pa.bool_())],
        names=[f[0] for f in _CELL_FIELDS],
    )
    cells_list = pa.ListArray.from_arrays(pa.array(c_off, pa.int32()), cells_struct)
    table_struct = pa.StructArray.from_arrays(
        [pa.array(tb_caption, pa.string()), pa.array(tb_nrows, pa.int32()), cells_list],
        names=["caption", "n_rows", "cells"],
    )
    tables_arr = pa.ListArray.from_arrays(pa.array(tb_off, pa.int32()), table_struct)
    sections_arr = _list_of_structs(
        s_off, [s_name, s_level, s_line, s_begin, s_end], _SECTION_FIELDS
    )
    refs_arr = _list_of_structs(rf_off, [rf_key, rf_iri, rf_text, rf_cite], _REF_FIELDS)
    galleries_arr = _list_of_structs(g_off, [g_file, g_enc, g_caption], _GALLERY_FIELDS)

    new_cols = [
        pa.array(subjects, pa.string()),
        pa.array(page_iris, pa.string()),
        pa.array(redirects, pa.string()),
        links_arr,
        ext_arr,
        tpl_arr,
        decls_arr,
        sections_arr,
        tables_arr,
        refs_arr,
        galleries_arr,
        pa.array(coord_lat, pa.float64()),
        pa.array(coord_lon, pa.float64()),
        pa.array(n_tables, pa.int32()),
        pa.array(plains, pa.string()),
        pa.array(abstracts, pa.string()),
        pa.array(errors, pa.int32()),
    ]
    new_names = [
        "subject",
        "page_iri",
        "redirect_target",
        "links",
        "external_links",
        "templates",
        "param_decls",
        "sections",
        "tables",
        "ref_texts",
        "galleries",
        "coord_lat",
        "coord_lon",
        "n_tables",
        "plain_text",
        "abstract",
        "parse_errors",
    ]
    arrays = list(batch.columns) + new_cols
    names = list(batch.schema.names) + new_names
    return pa.RecordBatch.from_arrays(arrays, names=names)


def parse_batches_arrow(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        if batch.num_rows:
            yield parse_record_batch(batch)
