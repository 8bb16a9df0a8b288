"""Zip demux + multi-layer grouping (SURVEY.md A16–A20).

Reference semantics (`lib/index.js:≈55–120` shp.parseZip [RECONSTRUCTED]):
unzip → member map; skip ``__MACOSX`` ghosts; extensions case-normalized;
``.json`` members pass through as layers; zero layers → error
``no layers founds`` (reference's exact misspelling).
"""

from __future__ import annotations

import io
import json
import zipfile

WHITELIST_DEFAULT = ("png", "jpg", "jpeg", "pdf", "txt")


def zip_demux(buf: bytes) -> dict[str, bytes]:
    """A16: zip bytes → {member_path: bytes}, __MACOSX skipped."""
    out = {}
    with zipfile.ZipFile(io.BytesIO(buf)) as z:
        for info in z.infolist():
            if info.is_dir() or info.filename.startswith("__MACOSX"):
                continue
            out[info.filename] = z.read(info)
    return out


def group_layers(members: dict[str, bytes],
                 whitelist: tuple = ()) -> dict[str, dict[str, bytes]]:
    """A18: group sidecars by layer base name with case-normalized
    extensions → {layer: {ext: bytes}}; '.json' members kept as geojson."""
    layers: dict[str, dict[str, bytes]] = {}
    for path, data in members.items():
        name = path.rsplit("/", 1)[-1]
        if "." not in name:
            continue
        base, ext = name.rsplit(".", 1)
        ext = ext.lower()
        if ext in ("shp", "dbf", "prj", "cpg", "shx", "json") or ext in whitelist:
            layers.setdefault(base, {})[ext] = data
    return layers


def parse_zip(buf: bytes, whitelist: tuple = (), path: str | None = None):
    """A16–A18+A20: zip → list of (layer_name, features|geojson obj).

    Each .shp layer is decoded with its sidecars; .json members are parsed
    (A20). Raises the reference's 'no layers founds' when neither exists.
    A refused .prj names its layer ``<path>!<member>`` when the zip's
    ``path`` is given, else by its member name."""
    from . import parser

    layers = group_layers(zip_demux(buf), whitelist)
    out = []
    for name in sorted(layers):
        kinds = layers[name]
        if "shp" in kinds:
            trans = parser.layer_projection(
                kinds["prj"].decode("ascii", "replace")
                if "prj" in kinds else None,
                f"{path}!{name}" if path else name)
            geoms = parser.parse_shp(kinds["shp"], trans)
            enc = parser.parse_cpg(kinds.get("cpg"))
            rows = parser.parse_dbf(kinds["dbf"], enc) if "dbf" in kinds else []
            out.append((name, parser.combine(geoms, rows)))
        elif "json" in kinds:
            out.append((name, json.loads(kinds["json"])))
    if not out:
        raise ValueError("no layers founds")
    return out
