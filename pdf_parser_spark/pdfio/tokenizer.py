"""PDF byte-stream text extraction: object lexer, object-stream
expansion, content-stream interpretation, y-sweep line clustering.

A from-scratch implementation of the reference's text layer
(reference parsers/base.py:27-44 uses pdfplumber with
``x_tolerance=2, y_tolerance=3``; pdfplumber is NOT a dependency of
this rebuild — BASELINE north star requires our own tokenizer).

Pipeline per document:
1. scan ``N G obj … endobj`` spans (resilient to broken xref tables —
   the xref is never required);
2. expand ``/ObjStm`` object streams (FlateDecode) and lex their
   members;
3. walk Catalog → Pages → Kids for page order (fallback: object-number
   order over ``/Type /Page`` objects);
4. interpret each page's content stream(s): BT/ET, Tf, Td, TD, Tm, T*,
   TL, Tj, TJ, ' and " — tracking the text line matrix;
5. decode show-text strings through the font's /ToUnicode CMap
   (bfchar + bfrange) or Latin-1 for simple fonts;
6. cluster glyph runs into lines by y (tolerance 3pt, matching the
   reference's pdfplumber y_tolerance), order runs by x, re-insert
   spaces at gaps ≥ a quarter of the glyph advance;
7. join lines with ``\\n`` per page and pages with ``\\n``
   (reference base.py:27-33 joins pages with '\\n').

Deliberately scoped to the fixture writer's repertoire plus graceful
failure (returns an error string instead of raising) — at 10^12-doc
scale a poison document must never kill a task.
"""

from __future__ import annotations

import re
import zlib
from dataclasses import dataclass, field
from typing import Any, Dict, List, Optional, Tuple

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_WS = b" \t\r\n\f\x00"
_DELIM = b"()<>[]{}/%"
_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
# whitespace runs + %-to-EOL comments in one C-level match.  Runs are
# matched whole (``+``) and the outer loop is possessive (``*+``): with
# one byte per iteration and backtracking kept, ``sre`` held ~120 bytes
# of state per whitespace byte (+976 MB over 8 MiB of spaces).
_WSCMT_RE = re.compile(rb"(?:[ \t\r\n\f\x00]+|%[^\r\n]*)*+")
_KEYWORD_RE = re.compile(rb"[A-Za-z'\"*]+")
_GEN_R_RE = re.compile(rb"\s+(\d+)\s+R\b")
# the bytes a literal-string scan must stop at (escape / nest / close)
_LITSPECIAL_RE = re.compile(rb"[\\()]")


class Ref(tuple):
    """Indirect reference (num, gen)."""


@dataclass
class Stream:
    info: dict
    raw: bytes


class _Lexer:
    """Recursive-descent lexer for PDF object syntax."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def _skip_ws(self) -> None:
        # one C-level regex step instead of a per-byte Python loop
        self.pos = _WSCMT_RE.match(self.data, self.pos).end()

    def peek_keyword(self) -> Optional[bytes]:
        self._skip_ws()
        m = _KEYWORD_RE.match(self.data, self.pos, self.pos + 16)
        return m.group(0) if m else None

    def value(self) -> Any:
        self._skip_ws()
        d = self.data
        p = self.pos
        if p >= len(d):
            raise EOFError
        c = d[p:p + 1]
        if d[p:p + 2] == b"<<":
            return self._dict()
        if c == b"<":
            return self._hex_string()
        if c == b"(":
            return self._literal_string()
        if c == b"[":
            return self._array()
        if c == b"/":
            return self._name()
        if c in b"+-.0123456789":
            return self._number_or_ref()
        kw = self.peek_keyword()
        if kw in (b"true", b"false", b"null"):
            self.pos += len(kw)
            return {b"true": True, b"false": False, b"null": None}[kw]
        raise ValueError("unexpected byte %r at %d" % (c, p))

    def _dict(self) -> Any:
        self.pos += 2
        out: Dict[str, Any] = {}
        while True:
            self._skip_ws()
            if self.data[self.pos:self.pos + 2] == b">>":
                self.pos += 2
                break
            key = self._name()
            out[key] = self.value()
        # stream payload?
        save = self.pos
        self._skip_ws()
        if self.data[self.pos:self.pos + 6] == b"stream":
            self.pos += 6
            if self.data[self.pos:self.pos + 2] == b"\r\n":
                self.pos += 2
            elif self.data[self.pos:self.pos + 1] == b"\n":
                self.pos += 1
            length = out.get("Length")
            if isinstance(length, int):
                raw = self.data[self.pos:self.pos + length]
                self.pos += length
            else:  # /Length is a ref — fall back to endstream scan
                end = self.data.find(b"endstream", self.pos)
                raw = self.data[self.pos:end].rstrip(b"\r\n")
                self.pos = end
            self._skip_ws()
            if self.data[self.pos:self.pos + 9] == b"endstream":
                self.pos += 9
            return Stream(out, raw)
        self.pos = save
        return out

    def _array(self) -> list:
        self.pos += 1
        out = []
        while True:
            self._skip_ws()
            if self.data[self.pos:self.pos + 1] == b"]":
                self.pos += 1
                return out
            out.append(self.value())

    def _name(self) -> str:
        self._skip_ws()
        assert self.data[self.pos:self.pos + 1] == b"/"
        self.pos += 1
        start = self.pos
        d = self.data
        while self.pos < len(d) and d[self.pos] not in _WS and d[self.pos] not in _DELIM:
            self.pos += 1
        raw = d[start:self.pos]
        # #xx escapes
        out = re.sub(
            rb"#([0-9A-Fa-f]{2})",
            lambda m: bytes([int(m.group(1), 16)]), raw,
        )
        return out.decode("latin-1")

    def _number_or_ref(self) -> Any:
        m = _NUM_RE.match(self.data, self.pos)
        tok = m.group(0)
        self.pos = m.end()
        if b"." in tok:
            return float(tok)
        # lookahead for "gen R"
        m2 = _GEN_R_RE.match(self.data, self.pos, self.pos + 32)
        if m2:
            self.pos = m2.end()
            return Ref((int(tok), int(m2.group(1))))
        return int(tok)

    def _literal_string(self) -> bytes:
        """Chunked scan: copy whole runs up to the next escape/paren in
        one slice instead of per-byte appends (the common string has
        none) — same byte semantics as the per-byte loop, including
        IndexError on a truncated trailing escape."""
        d = self.data
        pos = self.pos + 1
        n = len(d)
        depth = 1
        out = bytearray()
        esc = {0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}
        while pos < n:
            m = _LITSPECIAL_RE.search(d, pos)
            if m is None:
                out += d[pos:]
                pos = n
                break
            i = m.start()
            if i > pos:
                out += d[pos:i]
            c = d[i]
            pos = i + 1
            if c == 0x5C:  # backslash
                nc = d[pos]
                pos += 1
                if nc in esc:
                    out.append(esc[nc])
                elif 0x30 <= nc <= 0x37:  # octal
                    oct_s = chr(nc)
                    while len(oct_s) < 3 and 0x30 <= d[pos] <= 0x37:
                        oct_s += chr(d[pos])
                        pos += 1
                    out.append(int(oct_s, 8) & 0xFF)
                elif nc in (0x0A, 0x0D):  # line continuation
                    if nc == 0x0D and d[pos] == 0x0A:
                        pos += 1
                else:
                    out.append(nc)
            elif c == 0x28:
                depth += 1
                out.append(c)
            else:  # 0x29
                depth -= 1
                if depth == 0:
                    self.pos = pos
                    return bytes(out)
                out.append(c)
        self.pos = pos
        return bytes(out)

    def _hex_string(self) -> bytes:
        end = self.data.find(b">", self.pos)
        hexs = re.sub(rb"[^0-9A-Fa-f]", b"", self.data[self.pos + 1:end])
        self.pos = end + 1
        if len(hexs) % 2:
            hexs += b"0"
        return bytes.fromhex(hexs.decode("ascii"))


def _ascii_hex_decode(data: bytes) -> bytes:
    """ASCIIHexDecode (ISO 32000-1 §7.4.2): hex pairs, whitespace
    ignored, '>' is EOD, an odd trailing digit is padded with 0."""
    body = data.split(b">", 1)[0]
    hexs = re.sub(rb"[^0-9A-Fa-f]", b"", body)
    if len(hexs) % 2:
        hexs += b"0"
    return bytes.fromhex(hexs.decode("ascii"))


def _ascii85_decode(data: bytes) -> bytes:
    """ASCII85Decode (§7.4.3): base-85 groups, 'z' shorthand for four
    zero bytes, '~>' EOD, partial final group truncated."""
    body = data.split(b"~>", 1)[0]
    if body.startswith(b"<~"):
        body = body[2:]
    body = re.sub(rb"[ \t\r\n\f\x00]", b"", body)
    out = bytearray()
    group = []
    for ch in body:
        if ch == 0x7A:  # 'z'
            if group:
                raise ValueError("'z' inside ASCII85 group")
            out += b"\x00\x00\x00\x00"
            continue
        if not 0x21 <= ch <= 0x75:
            raise ValueError("bad ASCII85 byte %d" % ch)
        group.append(ch - 33)
        if len(group) == 5:
            n = 0
            for g in group:
                n = n * 85 + g
            out += n.to_bytes(4, "big")
            group = []
    if group:  # partial group: pad with 'u' (84), emit len-1 bytes
        k = len(group)
        for _ in range(5 - k):
            group.append(84)
        n = 0
        for g in group:
            n = n * 85 + g
        out += n.to_bytes(4, "big")[: k - 1]
    return bytes(out)


def _lzw_decode(data: bytes, early_change: int = 1) -> bytes:
    """LZWDecode (ISO 32000-1 §7.4.4): variable-width 9→12-bit codes,
    MSB-first; 256 = clear-table, 257 = EOD.  ``early_change`` (the
    /DecodeParms default 1) widens the code size one code EARLY —
    i.e. when the next-to-be-assigned code would no longer fit."""
    out = bytearray()
    table: List[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev: Optional[bytes] = None
    acc = 0
    nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            nbits -= width
            code = (acc >> nbits) & ((1 << width) - 1)
            if code == 256:
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                width = 9
                prev = None
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):  # KwKwK case
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("LZW code %d out of range" % code)
            out += entry
            prev = entry
            if len(table) + early_change >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


def _predictor_undo(data: bytes, predictor: int, colors: int,
                    bpc: int, columns: int) -> bytes:
    """Reverse a /DecodeParms predictor (§7.4.4.4): TIFF horizontal
    differencing (Predictor 2, 8-bit components) or the PNG row
    filters (10-15 — each ROW carries its own filter tag byte 0-4:
    None/Sub/Up/Average/Paeth, RFC 2083 §6), applied after the
    compression filter.  1.5 xref streams in the wild are almost
    universally Predictor 12 (PNG Up)."""
    bpp = max(1, (colors * bpc) // 8)      # bytes per pixel
    rowlen = (columns * colors * bpc + 7) // 8
    if predictor == 2:
        if bpc != 8:
            raise ValueError("TIFF predictor needs 8-bit components")
        out = bytearray(data)
        for r in range(0, len(out) - len(out) % rowlen, rowlen):
            for i in range(r + bpp, r + rowlen):
                out[i] = (out[i] + out[i - bpp]) & 0xFF
        return bytes(out)
    # PNG predictors: stride is rowlen + 1 filter-tag byte
    out = bytearray()
    prior = bytearray(rowlen)
    stride = rowlen + 1
    for r in range(0, len(data) - len(data) % stride, stride):
        tag = data[r]
        row = bytearray(data[r + 1:r + stride])
        if tag == 1:      # Sub
            for i in range(bpp, rowlen):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif tag == 2:    # Up
            for i in range(rowlen):
                row[i] = (row[i] + prior[i]) & 0xFF
        elif tag == 3:    # Average
            for i in range(rowlen):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prior[i]) >> 1)) & 0xFF
        elif tag == 4:    # Paeth
            for i in range(rowlen):
                a = row[i - bpp] if i >= bpp else 0
                b = prior[i]
                c = prior[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (
                    b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        elif tag != 0:
            raise ValueError("bad PNG filter tag %d" % tag)
        out += row
        prior = row
    return bytes(out)


def _runlength_decode(data: bytes) -> bytes:
    """RunLengthDecode (§7.4.5): length byte L — L<128: copy L+1
    literal bytes; L>128: repeat next byte 257-L times; 128 is EOD."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        ln = data[i]
        i += 1
        if ln == 128:
            break
        if ln < 128:
            out += data[i:i + ln + 1]
            i += ln + 1
        else:
            out += data[i:i + 1] * (257 - ln)
            i += 1
    return bytes(out)


def _decode_stream(s: Stream) -> bytes:
    filt = s.info.get("Filter")
    data = s.raw
    filters = filt if isinstance(filt, list) else ([filt] if filt else [])
    parms = s.info.get("DecodeParms", s.info.get("DP"))
    if not isinstance(parms, list):
        parms = [parms] * len(filters)
    elif len(parms) < len(filters):   # malformed: pad, never drop a filter
        parms = parms + [None] * (len(filters) - len(parms))
    for f, p in zip(filters, parms):
        if f in ("FlateDecode", "Fl"):
            data = zlib.decompress(data)
        elif f in ("LZWDecode", "LZW"):
            early = p.get("EarlyChange", 1) if isinstance(p, dict) else 1
            data = _lzw_decode(data, early)
        elif f in ("ASCIIHexDecode", "AHx"):
            data = _ascii_hex_decode(data)
        elif f in ("ASCII85Decode", "A85"):
            data = _ascii85_decode(data)
        elif f in ("RunLengthDecode", "RL"):
            data = _runlength_decode(data)
        else:
            raise ValueError("unsupported filter %s" % f)
        if f in ("FlateDecode", "Fl", "LZWDecode", "LZW") \
                and isinstance(p, dict) and p.get("Predictor", 1) > 1:
            data = _predictor_undo(
                data, p["Predictor"], p.get("Colors", 1),
                p.get("BitsPerComponent", 8), p.get("Columns", 1))
    return data


# ---------------------------------------------------------------------
# document model
# ---------------------------------------------------------------------

# the 32-byte password pad of ISO 32000-1 Table 21 (Algorithm 2)
_ENC_PAD = bytes.fromhex(
    "28BF4E5E4E758A4164004E56FFFA0108"
    "2E2E00B6D0683E802F0CA9FE6453697A")


def _rc4(key: bytes, data: bytes) -> bytes:
    """RC4 stream cipher (the PDF standard security handler's cipher
    for /V 1-2; symmetric, so this both encrypts and decrypts)."""
    s = list(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for n, b in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[n] = b ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


class PdfDocument:
    def __init__(self, data: bytes):
        self.objects: Dict[int, Any] = {}
        self.gens: Dict[int, int] = {}
        self._scan(data)
        self._decrypt_if_needed(data)
        self._expand_object_streams()

    def _scan(self, data: bytes) -> None:
        for m in _OBJ_RE.finditer(data):
            num = int(m.group(1))
            lex = _Lexer(data, m.end())
            try:
                self.objects[num] = lex.value()
                self.gens[num] = int(m.group(2))
            except Exception:
                continue

    # ------------------------------------------ standard security handler
    def _decrypt_if_needed(self, data: bytes) -> None:
        """RC4 decryption for the standard security handler with a
        BLANK user password (ISO 32000-1 §7.6.3: /Filter /Standard,
        /V 1-2, /R 2-3 — the 40/128-bit RC4 generations; most
        'encrypted' statements in the wild open without a password).
        Every string and stream is RC4'd under a per-object key; the
        /Encrypt dict itself and cross-reference streams are exempt.
        AES (/V 4-5) raises → extract_pdf_text reports the error."""
        from hashlib import md5

        enc_ref, id0 = None, b""
        for m in re.finditer(rb"trailer", data):
            try:
                t = _Lexer(data, m.end()).value()
            except Exception:
                continue
            if isinstance(t, dict) and "Encrypt" in t:
                enc_ref = t["Encrypt"]
                ids = self.resolve(t.get("ID")) or [b""]
                id0 = ids[0] if isinstance(ids[0], bytes) else b""
        for obj in self.objects.values():   # xref-stream trailers
            if isinstance(obj, Stream) and obj.info.get("Type") == "XRef" \
                    and "Encrypt" in obj.info:
                enc_ref = obj.info["Encrypt"]
                ids = self.resolve(obj.info.get("ID")) or [b""]
                id0 = ids[0] if isinstance(ids[0], bytes) else b""
        if enc_ref is None:
            return
        enc = self.resolve(enc_ref)
        if not isinstance(enc, dict):
            return
        v = self.resolve(enc.get("V", 0))
        r = self.resolve(enc.get("R", 2))
        if self.resolve(enc.get("Filter")) != "Standard" \
                or v not in (1, 2) or r not in (2, 3):
            raise ValueError("unsupported encryption: /Filter %r /V %r"
                             % (enc.get("Filter"), v))
        o_entry = self.resolve(enc.get("O")) or b""
        p = int(self.resolve(enc.get("P", -1)))
        n = 5 if r == 2 else max(5, int(self.resolve(
            enc.get("Length", 40))) // 8)
        key = md5(_ENC_PAD + o_entry
                  + (p & 0xFFFFFFFF).to_bytes(4, "little") + id0).digest()
        if r >= 3:
            for _ in range(50):
                key = md5(key[:n]).digest()
        key = key[:n]
        enc_num = enc_ref[0] if isinstance(enc_ref, Ref) else None

        def dec(obj, ok):
            if isinstance(obj, bytes):
                return _rc4(ok, obj)
            if isinstance(obj, Ref):
                return obj
            if isinstance(obj, list):
                return [dec(x, ok) for x in obj]
            if isinstance(obj, dict):
                return {k: dec(x, ok) for k, x in obj.items()}
            if isinstance(obj, Stream):
                if obj.info.get("Type") == "XRef":
                    return obj
                return Stream(info=dec(obj.info, ok),
                              raw=_rc4(ok, obj.raw))
            return obj

        for num in list(self.objects):
            if num == enc_num:
                continue
            gen = self.gens.get(num, 0)
            ok = md5(key + num.to_bytes(3, "little")
                     + gen.to_bytes(2, "little")).digest()[:min(n + 5, 16)]
            self.objects[num] = dec(self.objects[num], ok)

    def _expand_object_streams(self) -> None:
        for num in list(self.objects):
            obj = self.objects[num]
            if isinstance(obj, Stream) and obj.info.get("Type") == "ObjStm":
                try:
                    payload = _decode_stream(obj)
                    first = self.resolve(obj.info.get("First", 0))
                    count = self.resolve(obj.info.get("N", 0))
                    hdr = _Lexer(payload[:first])
                    pairs = []
                    for _ in range(count):
                        onum = hdr.value()
                        off = hdr.value()
                        pairs.append((onum, off))
                    for onum, off in pairs:
                        member = _Lexer(payload, first + off).value()
                        if self.objects.get(onum) is None:
                            self.objects[onum] = member
                except Exception:
                    continue

    def resolve(self, v: Any, depth: int = 0) -> Any:
        while isinstance(v, Ref) and depth < 32:
            v = self.objects.get(v[0])
            depth += 1
        return v

    def inherited(self, page: dict, key: str):
        """Inheritable page attribute (ISO 32000-1 §7.7.3.4):
        /Resources (and friends) may live on any ancestor /Pages node
        — walk the /Parent chain until the key is found."""
        node, depth = page, 0
        while isinstance(node, dict) and depth < 32:
            if key in node:
                return self.resolve(node[key])
            node = self.resolve(node.get("Parent"))
            depth += 1
        return None

    def pages(self) -> List[dict]:
        """Kids-walk from the catalog; fallback to object-number order."""
        catalog = None
        for obj in self.objects.values():
            if isinstance(obj, dict) and obj.get("Type") == "Catalog":
                catalog = obj
                break
        ordered: List[dict] = []
        if catalog is not None:
            def walk(node):
                node = self.resolve(node)
                if not isinstance(node, dict):
                    return
                if node.get("Type") == "Page":
                    ordered.append(node)
                    return
                for kid in self.resolve(node.get("Kids")) or []:
                    walk(kid)
            walk(catalog.get("Pages"))
        if not ordered:
            for num in sorted(self.objects):
                obj = self.objects[num]
                if isinstance(obj, dict) and obj.get("Type") == "Page":
                    ordered.append(obj)
        return ordered


# ---------------------------------------------------------------------
# fonts
# ---------------------------------------------------------------------

_BFCHAR_RE = re.compile(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>")
_BFRANGE_RE = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>"
)


_STARTXREF_RE = re.compile(rb"startxref\s+(\d+)")


def parse_xref_stream(data: bytes) -> Dict[int, tuple]:
    """Parse the PDF 1.5 cross-reference STREAM (ISO 32000-1 §7.5.8)
    the last ``startxref`` points at: decode the /Filter'd payload,
    slice it by the /W field widths over the /Index subsections, and
    return ``{obj_num: ("f",) | ("n", offset, gen) | ("o", objstm_num,
    idx)}``.

    The extraction path deliberately does NOT depend on this (the
    object-span scan survives broken xrefs — tokenizer.py's poison-
    document contract); this is the conformance surface: it lets tests
    assert our 1.5 writer emits offsets that agree byte-exactly with
    the scanned object spans and type-2 entries that agree with
    /ObjStm membership, and it reads third-party 1.5 files whose
    objects exist only behind type-2 entries."""
    last = None
    for last in _STARTXREF_RE.finditer(data):
        pass
    if last is None:
        raise ValueError("no startxref")
    off = int(last.group(1))
    head = _OBJ_RE.match(data, off)
    if head is None:
        raise ValueError("startxref does not point at an object")
    obj = _Lexer(data, head.end()).value()
    if not isinstance(obj, Stream) or obj.info.get("Type") != "XRef":
        raise ValueError("object at startxref is not an XRef stream")
    payload = _decode_stream(obj)
    w = obj.info["W"]
    size = obj.info["Size"]
    index = obj.info.get("Index", [0, size])
    rowlen = sum(w)
    entries: Dict[int, tuple] = {}
    k = 0
    for j in range(0, len(index), 2):
        start, count = index[j], index[j + 1]
        for num in range(start, start + count):
            row = payload[k:k + rowlen]
            k += rowlen
            vals = []
            p = 0
            for fi, width in enumerate(w):
                if width == 0:
                    # §7.5.8.2: a zero-width field takes its default —
                    # type defaults to 1, the others to 0
                    vals.append(1 if fi == 0 else 0)
                else:
                    vals.append(int.from_bytes(row[p:p + width], "big"))
                    p += width
            t, f2, f3 = vals
            if t == 0:
                entries[num] = ("f",)
            elif t == 1:
                entries[num] = ("n", f2, f3)
            elif t == 2:
                entries[num] = ("o", f2, f3)
    return entries


def _utf16be_hex(uni: bytes) -> str:
    """A bfchar/bfrange target hex string is UTF-16BE (ISO 32000-1
    §9.10.3): non-BMP characters arrive as SURROGATE PAIRS (e.g.
    D835 DCAB → U+1D4AB), which a naive 4-hex-digit chr() loop would
    mangle into two lone surrogates."""
    try:
        return bytes.fromhex(uni.decode("ascii")).decode(
            "utf-16-be", errors="surrogatepass")
    except Exception:
        return "".join(
            chr(int(uni[i:i + 4], 16)) for i in range(0, len(uni) - 3, 4))


def _parse_tounicode(cmap_bytes: bytes) -> Dict[int, str]:
    """bfchar + bfrange sections → {code: unicode string}."""
    mapping: Dict[int, str] = {}
    for sect in re.finditer(
        rb"beginbfchar(.*?)endbfchar", cmap_bytes, re.S
    ):
        for m in _BFCHAR_RE.finditer(sect.group(1)):
            code = int(m.group(1), 16)
            mapping[code] = _utf16be_hex(m.group(2))
    for sect in re.finditer(
        rb"beginbfrange(.*?)endbfrange", cmap_bytes, re.S
    ):
        for m in _BFRANGE_RE.finditer(sect.group(1)):
            lo, hi = int(m.group(1), 16), int(m.group(2), 16)
            dst = _utf16be_hex(m.group(3))
            for k in range(hi - lo + 1):
                # §9.10.3: the range increments the LAST character of
                # the destination (handles surrogate-pair dsts too,
                # since dst is already decoded to real codepoints)
                mapping[lo + k] = dst[:-1] + chr(ord(dst[-1]) + k)
    return mapping


@dataclass
class _Font:
    to_unicode: Optional[Dict[int, str]] = None
    char_em: float = 0.6  # monospace advance (Courier)
    code_bytes: int = 1   # 2 for Type0 (Identity-H CID) fonts

    def decode(self, raw: bytes) -> str:
        if self.code_bytes == 2:
            # composite font: show strings are big-endian 2-byte CIDs
            tu = self.to_unicode or {}
            return "".join(
                tu.get((raw[i] << 8) | raw[i + 1], "�")
                for i in range(0, len(raw) - 1, 2)
            )
        if self.to_unicode is None:
            return raw.decode("latin-1")
        return "".join(
            self.to_unicode.get(b, chr(b) if b < 128 else "�")
            for b in raw
        )

    def nglyphs(self, nbytes: int) -> int:
        if self.code_bytes == 2:
            return (nbytes + 1) // 2
        return nbytes


def _load_fonts(doc: PdfDocument, page: dict) -> Dict[str, _Font]:
    return _fonts_from_res(doc, doc.inherited(page, "Resources") or {})


def _fonts_from_res(doc: PdfDocument, res: dict) -> Dict[str, _Font]:
    fonts = doc.resolve(res.get("Font")) or {}
    out: Dict[str, _Font] = {}
    for name, ref in fonts.items():
        fd = doc.resolve(ref)
        if not isinstance(fd, dict):
            continue
        tu = doc.resolve(fd.get("ToUnicode"))
        cmap = None
        if isinstance(tu, Stream):
            try:
                cmap = _parse_tounicode(_decode_stream(tu))
            except Exception:
                cmap = None
        cb = 2 if fd.get("Subtype") == "Type0" else 1
        out[name] = _Font(to_unicode=cmap, code_bytes=cb)
    return out


def _form_lookup(doc: PdfDocument, res: dict):
    """Resolver for ``Do`` operands: name → (decoded content, fonts,
    nested resolver) for /Subtype /Form XObjects, None for images and
    unknown names.  A form without its own /Resources inherits the
    invoking context's (ISO 32000-1 §8.10.1 legacy behavior)."""
    xobjects = doc.resolve(res.get("XObject")) or {}

    def get(name: str):
        s = doc.resolve(xobjects.get(name))
        if not isinstance(s, Stream) \
                or doc.resolve(s.info.get("Subtype")) != "Form":
            return None
        try:
            data = _decode_stream(s)
        except Exception:
            return None
        fres = doc.resolve(s.info.get("Resources")) or res
        return data, _fonts_from_res(doc, fres), _form_lookup(doc, fres)

    return get


# ---------------------------------------------------------------------
# content-stream interpreter
# ---------------------------------------------------------------------

Y_TOLERANCE = 3.0   # matches reference pdfplumber y_tolerance (base.py:31)
GAP_FRACTION = 0.25  # min glyph-advance fraction treated as a space


@dataclass
class _TextState:
    x: float = 0.0
    y: float = 0.0
    line_x: float = 0.0
    line_y: float = 0.0
    leading: float = 0.0
    size: float = 1.0
    font: _Font = field(default_factory=_Font)

    def advance(self, nbytes: int) -> float:
        return nbytes * self.font.char_em * self.size


_INLINE_EI_RE = re.compile(rb"[\x00\t\n\f\r ]EI(?=[\x00\t\n\f\r ]|$)")
_INLINE_ID_RE = re.compile(rb"[\x00\t\n\f\r ]ID")


def _interpret(content: bytes, fonts: Dict[str, _Font],
               get_form=None, depth: int = 0) -> List[Tuple[float, float, str]]:
    """Execute show-text-relevant operators; return glyph runs
    (y, x, text).

    ``get_form``: optional ``_form_lookup`` resolver — ``Do`` on a
    /Subtype /Form XObject recurses into the form's own content
    stream (pdfminer-style; images resolve to None and are ignored).
    Inline images (``BI … ID <binary> EI``) are skipped wholesale:
    their unlexable binary payload would otherwise be misread as
    operands (a stray ``(`` opens a phantom string, and any ``Tj``
    bytes after it would leak image noise into the extracted text)."""
    lex = _Lexer(content)
    stack: List[Any] = []
    st = _TextState()
    runs: List[Tuple[float, float, str]] = []

    def show(raw: bytes) -> None:
        text = st.font.decode(raw)
        if text:
            runs.append((st.y, st.x, text))
        st.x += st.advance(st.font.nglyphs(len(raw)))

    def newline() -> None:
        st.line_y -= st.leading
        st.x, st.y = st.line_x, st.line_y

    n = len(content)
    while True:
        try:
            lex._skip_ws()
            if lex.pos >= n:
                break
            c = content[lex.pos:lex.pos + 1]
            if c in b"/<([+-.0123456789":
                stack.append(lex.value())
                continue
            kw = lex.peek_keyword()
            if not kw:
                lex.pos += 1
                continue
            lex.pos += len(kw)
            op = kw.decode("latin-1")
            if op == "BT":
                st.x = st.y = st.line_x = st.line_y = 0.0
            elif op == "Tf" and len(stack) >= 2:
                st.size = float(stack[-1])
                st.font = fonts.get(stack[-2], _Font())
            elif op == "TL" and stack:
                st.leading = float(stack[-1])
            elif op == "Td" and len(stack) >= 2:
                st.line_x += float(stack[-2])
                st.line_y += float(stack[-1])
                st.x, st.y = st.line_x, st.line_y
            elif op == "TD" and len(stack) >= 2:
                st.leading = -float(stack[-1])
                st.line_x += float(stack[-2])
                st.line_y += float(stack[-1])
                st.x, st.y = st.line_x, st.line_y
            elif op == "Tm" and len(stack) >= 6:
                st.line_x, st.line_y = float(stack[-2]), float(stack[-1])
                st.x, st.y = st.line_x, st.line_y
            elif op == "T*":
                newline()
            elif op == "Tj" and stack:
                show(stack[-1])
            elif op == "'" and stack:
                newline()
                show(stack[-1])
            elif op == '"' and stack:
                newline()
                show(stack[-1])
            elif op == "TJ" and stack and isinstance(stack[-1], list):
                for item in stack[-1]:
                    if isinstance(item, bytes):
                        show(item)
                    elif isinstance(item, (int, float)):
                        st.x -= item / 1000.0 * st.size
            elif op == "BI":
                # skip the whole inline image: dict up to the
                # whitespace-prefixed ID, binary payload up to the
                # whitespace-delimited EI (ISO 32000-1 §8.9.7)
                idm = _INLINE_ID_RE.search(content, lex.pos)
                if not idm:
                    break
                eim = _INLINE_EI_RE.search(content, idm.end())
                lex.pos = eim.end() if eim else n
            elif op == "Do" and stack and get_form is not None \
                    and depth < 8:
                sub = get_form(stack[-1])
                if sub is not None:
                    data, sfonts, sget = sub
                    runs.extend(_interpret(data, sfonts, sget, depth + 1))
            stack.clear()
        except EOFError:
            break
        except Exception:
            stack.clear()
            continue
    return runs


def _cluster_lines(runs: List[Tuple[float, float, str]], char_w: float) -> str:
    """y-sweep: sort runs top-down, group within Y_TOLERANCE, order by
    x, re-insert spaces at geometric gaps."""
    if not runs:
        return ""
    ordered = sorted(runs, key=lambda r: (-r[0], r[1]))
    lines: List[List[Tuple[float, float, str]]] = []
    cur_y = None
    for r in ordered:
        if cur_y is None or abs(r[0] - cur_y) > Y_TOLERANCE:
            lines.append([r])
            cur_y = r[0]
        else:
            lines[-1].append(r)
    out_lines = []
    for line in lines:
        line.sort(key=lambda r: r[1])
        buf = []
        prev_end = None
        for y, x, text in line:
            if prev_end is not None and x - prev_end > char_w * GAP_FRACTION:
                buf.append(" ")
            buf.append(text)
            prev_end = x + len(text) * char_w
        out_lines.append("".join(buf))
    return "\n".join(out_lines)


@dataclass
class ExtractResult:
    text: str
    pages: int
    error: Optional[str] = None


def extract_pdf_links(pdf_bytes: bytes) -> List[Tuple[int, str]]:
    """URI link annotations per page — (page_no, uri) in page order,
    then /Annots array order (ISO 32000-1 §12.5.6.5): each page's
    /Annots (inline or indirect) is walked, /Subtype /Link dicts with
    a /S /URI action contribute their /URI string, everything else
    (text notes, GoTo destinations, malformed entries) is skipped.
    Never raises; a poison document yields []."""
    out: List[Tuple[int, str]] = []
    try:
        doc = PdfDocument(pdf_bytes)
        for page_no, page in enumerate(doc.pages()):
            annots = doc.resolve(page.get("Annots"))
            if not isinstance(annots, list):
                continue
            for a in annots:
                a = doc.resolve(a)
                if not isinstance(a, dict) or a.get("Subtype") != "Link":
                    continue
                act = doc.resolve(a.get("A"))
                if not isinstance(act, dict) or act.get("S") != "URI":
                    continue
                uri = doc.resolve(act.get("URI"))
                if isinstance(uri, bytes):
                    out.append((page_no, uri.decode("latin-1")))
    except Exception:
        return out
    return out


def _pdf_text_string(raw) -> str:
    """§7.9.2.2 text-string decode: UTF-16BE when the BOM leads,
    PDFDocEncoding (latin-1 approximation) otherwise."""
    if not isinstance(raw, bytes):
        return ""
    if raw[:2] == b"\xfe\xff":
        try:
            return raw[2:].decode("utf-16-be")
        except UnicodeDecodeError:
            return raw[2:].decode("utf-16-be", "replace")
    return raw.decode("latin-1")


def extract_pdf_bookmarks(pdf_bytes: bytes) -> List[Tuple[int, str, int]]:
    """The document outline (ISO 32000-1 §12.3.3) — (level, title,
    page_no) in depth-first order: catalog /Outlines → First/Next
    linkage, titles decoded per §7.9.2.2 (UTF-16BE BOM or
    PDFDocEncoding), destination pages resolved from direct /Dest
    arrays or /A << /S /GoTo /D [...] >> actions and mapped to page
    indexes; an item whose destination cannot be resolved reports
    page -1.  Never raises; a poison document yields []."""
    out: List[Tuple[int, str, int]] = []
    try:
        doc = PdfDocument(pdf_bytes)
        page_idx = {id(p): i for i, p in enumerate(doc.pages())}
        catalog = None
        for obj in doc.objects.values():
            if isinstance(obj, dict) and obj.get("Type") == "Catalog":
                catalog = obj
                break
        if catalog is None:
            return out
        root = doc.resolve(catalog.get("Outlines"))
        if not isinstance(root, dict):
            return out

        def dest_page(item: dict) -> int:
            dest = doc.resolve(item.get("Dest"))
            if dest is None:
                act = doc.resolve(item.get("A"))
                if isinstance(act, dict) and act.get("S") == "GoTo":
                    dest = doc.resolve(act.get("D"))
            if isinstance(dest, list) and dest:
                pg = doc.resolve(dest[0])
                return page_idx.get(id(pg), -1)
            return -1

        def walk(node: dict, level: int, seen: set) -> None:
            item = doc.resolve(node.get("First"))
            while isinstance(item, dict) and id(item) not in seen:
                seen.add(id(item))          # malformed-cycle guard
                out.append((level, _pdf_text_string(item.get("Title")),
                            dest_page(item)))
                walk(item, level + 1, seen)
                item = doc.resolve(item.get("Next"))

        walk(root, 1, set())
    except Exception:
        return out
    return out


def extract_pdf_form_fields(pdf_bytes: bytes) -> List[Tuple[str, str]]:
    """AcroForm text-field values (ISO 32000-1 §12.7) — (qualified
    name, value) in field-tree order: partial /T names compose with
    '.' down the /Kids tree, /V inherits from the nearest ancestor
    that sets it, values decode per §7.9.2.2 (UTF-16BE BOM or
    PDFDocEncoding).  Terminal nodes (no /Kids) with a resolved value
    are reported.  Never raises; poison documents yield []."""
    out: List[Tuple[str, str]] = []
    try:
        doc = PdfDocument(pdf_bytes)
        catalog = None
        for obj in doc.objects.values():
            if isinstance(obj, dict) and obj.get("Type") == "Catalog":
                catalog = obj
                break
        if catalog is None:
            return out
        acro = doc.resolve(catalog.get("AcroForm"))
        if not isinstance(acro, dict):
            return out

        def walk(node, prefix: str, inherited_v, seen: set) -> None:
            node = doc.resolve(node)
            if not isinstance(node, dict) or id(node) in seen:
                return
            seen.add(id(node))
            t = node.get("T")
            if isinstance(t, bytes):
                name = ((prefix + "." if prefix else "")
                        + _pdf_text_string(t))
            else:
                name = prefix
            v = (doc.resolve(node.get("V")) if "V" in node
                 else inherited_v)
            kids = doc.resolve(node.get("Kids"))
            if isinstance(kids, list) and kids:
                for k in kids:
                    walk(k, name, v, seen)
            elif isinstance(v, bytes) and name:
                out.append((name, _pdf_text_string(v)))

        for f in doc.resolve(acro.get("Fields")) or []:
            walk(f, "", None, set())
    except Exception:
        return out
    return out


def extract_pdf_text(pdf_bytes: bytes, font_size: float = 10.0) -> ExtractResult:
    """Full-document extraction; never raises."""
    try:
        doc = PdfDocument(pdf_bytes)
        pages = doc.pages()
        char_w = 0.6 * font_size
        page_texts = []
        for page in pages:
            fonts = _load_fonts(doc, page)
            res = doc.inherited(page, "Resources") or {}
            contents = doc.resolve(page.get("Contents"))
            chunks: List[bytes] = []
            for item in contents if isinstance(contents, list) else [contents]:
                s = doc.resolve(item)
                if isinstance(s, Stream):
                    try:
                        chunks.append(_decode_stream(s))
                    except Exception:
                        continue
            runs = _interpret(b"\n".join(chunks), fonts,
                              _form_lookup(doc, res))
            page_texts.append(_cluster_lines(runs, char_w))
        return ExtractResult("\n".join(page_texts), len(pages))
    except Exception as exc:  # poison document — report, don't raise
        return ExtractResult("", 0, error="%s: %s" % (type(exc).__name__, exc))


def _roman(n: int) -> str:
    """Standard subtractive roman numerals (lowercase)."""
    vals = ((1000, "m"), (900, "cm"), (500, "d"), (400, "cd"),
            (100, "c"), (90, "xc"), (50, "l"), (40, "xl"),
            (10, "x"), (9, "ix"), (5, "v"), (4, "iv"), (1, "i"))
    out = []
    for v, sym in vals:
        while n >= v:
            out.append(sym)
            n -= v
    return "".join(out)


def _alpha(n: int) -> str:
    """PDF §12.4.2 letter style: a..z, then aa..zz, aaa.. (REPEATED
    letters, not positional base-26)."""
    return chr(ord("a") + (n - 1) % 26) * ((n - 1) // 26 + 1)


def extract_pdf_page_labels(pdf_bytes: bytes) -> List[Tuple[int, str]]:
    """Declared page labels (ISO 32000-1 §12.4.2) — (page_no, label)
    for every physical page, expanded from the catalog's /PageLabels
    NUMBER TREE (§7.9.7: direct /Nums leaves or the split /Kids +
    /Limits form): per range, counter starts at /St (default 1) and
    each label is the decoded /P prefix (default empty) followed by
    the counter rendered in the /S style — D decimal, r/R roman,
    a/A letters (repeated-letter form) — or the bare prefix when /S
    is absent (all pages in such a range share it, per spec).  A
    document with NO /PageLabels declares nothing and yields []
    (viewers then fall back to 1-based decimal; that implicit default
    is the caller's business, not a declared label).  Never raises;
    poison documents yield []."""
    out: List[Tuple[int, str]] = []
    try:
        doc = PdfDocument(pdf_bytes)
        n_pages = len(doc.pages())
        catalog = None
        for obj in doc.objects.values():
            if isinstance(obj, dict) and obj.get("Type") == "Catalog":
                catalog = obj
                break
        if catalog is None:
            return out
        root = doc.resolve(catalog.get("PageLabels"))
        if not isinstance(root, dict):
            return out

        ranges: List[Tuple[int, dict]] = []

        def walk(node, seen: set) -> None:
            node = doc.resolve(node)
            if not isinstance(node, dict) or id(node) in seen:
                return
            seen.add(id(node))
            kids = doc.resolve(node.get("Kids"))
            if isinstance(kids, list):
                for k in kids:
                    walk(k, seen)
            nums = doc.resolve(node.get("Nums"))
            if isinstance(nums, list):
                for i in range(0, len(nums) - 1, 2):
                    st = doc.resolve(nums[i])
                    sp = doc.resolve(nums[i + 1])
                    if isinstance(st, int) and isinstance(sp, dict):
                        ranges.append((st, sp))

        walk(root, set())
        if not ranges:
            return out
        ranges.sort(key=lambda r: r[0])
        for p in range(n_pages):
            sel = None
            for st, sp in ranges:
                if st <= p:
                    sel = (st, sp)
                else:
                    break
            if sel is None:       # pages before the first range: the
                continue          # tree declares nothing for them
            st, sp = sel
            start = sp.get("St")
            ctr = (start if isinstance(start, int) else 1) + (p - st)
            prefix = sp.get("P")
            label = (_pdf_text_string(prefix)
                     if isinstance(prefix, bytes) else "")
            style = sp.get("S")
            if style == "D":
                label += str(ctr)
            elif style == "r":
                label += _roman(ctr)
            elif style == "R":
                label += _roman(ctr).upper()
            elif style == "a":
                label += _alpha(ctr)
            elif style == "A":
                label += _alpha(ctr).upper()
            out.append((p, label))
    except Exception:
        return out
    return out


def _pdf_date_iso(raw: str) -> str:
    """§7.9.4 date string → ISO 8601.  ``D:YYYY[MM[DD[HH[mm[SS]]]]]``
    with optional ``Z`` or ``±HH'mm'`` offset; omitted fields default
    per spec (month/day 01, time 00); no offset → no suffix, ``Z`` →
    ``+00:00``.  A string that does not parse is returned verbatim
    (real-world Info dates are frequently malformed; surfacing beats
    guessing)."""
    m = re.match(
        r"^D:(\d{4})(\d{2})?(\d{2})?(\d{2})?(\d{2})?(\d{2})?"
        r"(Z|[+\-]\d{2}'\d{2}')?$", raw)
    if not m:
        return raw
    y, mo, dy, hh, mi, ss, tz = m.groups()
    out = "%s-%s-%sT%s:%s:%s" % (y, mo or "01", dy or "01",
                                 hh or "00", mi or "00", ss or "00")
    if tz == "Z":
        out += "+00:00"
    elif tz:
        out += tz[0] + tz[1:3] + ":" + tz[4:6]
    return out


def extract_pdf_metadata(pdf_bytes: bytes) -> List[Tuple[str, str, str]]:
    """Document metadata — (field, value, source) rows for title /
    author / producer / created, merged from the TWO places real PDFs
    carry it: the trailer's /Info dictionary (§14.3.3; every trailer
    form — classic, /Prev-chained incremental, xref-stream) and the
    catalog's XMP packet (§14.3.2; dc:title rdf:Alt, dc:creator
    rdf:Seq, minimal entity unescaping).  Where both speak, XMP wins
    title and author (it is the maintained record in modern
    producers; the /Info values are frequently stale copies) while
    producer and dates come from /Info (XMP's xmp:CreateDate is not
    written by the fixture writer and pdf:Producer is rare in the
    wild).  /Info dates are normalized to ISO 8601 (see
    _pdf_date_iso).  Never raises; poison documents yield []."""
    out: List[Tuple[str, str, str]] = []
    try:
        doc = PdfDocument(pdf_bytes)
        info = None
        for m in re.finditer(rb"trailer", pdf_bytes):
            try:
                t = _Lexer(pdf_bytes, m.end()).value()
            except Exception:
                continue
            if isinstance(t, dict) and "Info" in t:
                info = doc.resolve(t["Info"])
        if info is None:
            for obj in doc.objects.values():
                if isinstance(obj, Stream) \
                        and obj.info.get("Type") == "XRef" \
                        and "Info" in obj.info:
                    info = doc.resolve(obj.info["Info"])
        if not isinstance(info, dict):
            info = {}

        xmp_title = xmp_creator = None
        for obj in doc.objects.values():
            if isinstance(obj, Stream) \
                    and obj.info.get("Type") == "Metadata":
                xml = obj.raw.decode("utf-8", "replace")

                def _unesc(x: str) -> str:
                    return (x.replace("&lt;", "<").replace("&gt;", ">")
                            .replace("&amp;", "&"))

                mt = re.search(
                    r"<dc:title>.*?<rdf:li[^>]*>(.*?)</rdf:li>",
                    xml, re.S)
                if mt:
                    xmp_title = _unesc(mt.group(1))
                mc = re.search(
                    r"<dc:creator>.*?<rdf:li[^>]*>(.*?)</rdf:li>",
                    xml, re.S)
                if mc:
                    xmp_creator = _unesc(mc.group(1))

        def _info_str(key: str):
            v = doc.resolve(info.get(key))
            return _pdf_text_string(v) if isinstance(v, bytes) else None

        pairs = [
            ("title", xmp_title, "xmp") if xmp_title is not None
            else ("title", _info_str("Title"), "info"),
            ("author", xmp_creator, "xmp") if xmp_creator is not None
            else ("author", _info_str("Author"), "info"),
            ("producer", _info_str("Producer"), "info"),
            ("created",
             _pdf_date_iso(_info_str("CreationDate"))
             if _info_str("CreationDate") is not None else None,
             "info"),
        ]
        out = [(f, v, src) for f, v, src in pairs if v is not None]
    except Exception:
        return []
    return out


_COL_GAP = 24.0   # min x gap (pt) separating table columns — ~4 chars
                  # at the 10pt/0.6em metrics the writer uses


def extract_pdf_table_grid(
        pdf_bytes: bytes) -> List[Tuple[int, int, int, str]]:
    """Table recovery by COORDINATE clustering — (page_no, row_no,
    col_no, cell) from each page whose glyph runs form a grid: rows
    are the y-sweep clusters extraction already uses (Y_TOLERANCE),
    columns come from an x-sweep over the multi-run rows (a new
    column opens at an x gap > _COL_GAP), and runs landing in the
    same (row, column) cell merge in x order; once a page qualifies
    (≥2 rows of ≥2 runs) EVERY row is gridded, so ragged tails and
    one-cell subtotal rows keep their column alignment.  Stream order carries
    NO information — the writer emits cells deliberately shuffled,
    and real producers emit column-major, row-major, or draw-order
    streams interchangeably.  Pages without at least two multi-run
    rows (ordinary prose) yield nothing; never raises; poison
    documents yield []."""
    out: List[Tuple[int, int, int, str]] = []
    try:
        doc = PdfDocument(pdf_bytes)
        for pno, page in enumerate(doc.pages()):
            fonts = _load_fonts(doc, page)
            res = doc.inherited(page, "Resources") or {}
            contents = doc.resolve(page.get("Contents"))
            chunks: List[bytes] = []
            for item in (contents if isinstance(contents, list)
                         else [contents]):
                s = doc.resolve(item)
                if isinstance(s, Stream):
                    try:
                        chunks.append(_decode_stream(s))
                    except Exception:
                        continue
            runs = _interpret(b"\n".join(chunks), fonts,
                              _form_lookup(doc, res))
            if not runs:
                continue
            char_w = 6.0        # 0.6 em at the 10pt writer metrics
            # y-sweep: cluster into rows (descending y = top first)
            rows: List[List[Tuple[float, float, str]]] = []
            for y, x, t in sorted(runs, key=lambda r: (-r[0], r[1])):
                if rows and abs(rows[-1][0][0] - y) <= Y_TOLERANCE:
                    rows[-1].append((y, x, t))
                else:
                    rows.append([(y, x, t)])
            # merge adjacent runs into SEGMENTS: a kerned TJ or a
            # re-positioned word resumes within ~a word gap of the
            # previous run's end — only an end-to-start gap > _COL_GAP
            # opens a new cell (start-x distance alone would misread
            # every kern split as a column)
            seg_rows: List[List[Tuple[float, str]]] = []
            for r in rows:
                segs: List[Tuple[float, float, str]] = []
                for _, x, t in sorted(r, key=lambda v: v[1]):
                    end = x + char_w * len(t)
                    if segs and x - segs[-1][1] <= _COL_GAP:
                        sx, send, st_ = segs[-1]
                        joiner = " " if x - send >= 1.5 else ""
                        segs[-1] = (sx, end, st_ + joiner + t)
                    else:
                        segs.append((x, end, t))
                seg_rows.append([(sx, t) for sx, _, t in segs])
            if sum(1 for r in seg_rows if len(r) >= 2) < 2:
                continue
            # the page IS a table: grid every row (one-cell rows —
            # subtotals, ragged tails — keep their column alignment)
            xs = sorted({x for r in seg_rows for x, _ in r})
            col_of: Dict[float, int] = {}
            col = -1
            prev = None
            for x in xs:
                if prev is None or x - prev > _COL_GAP:
                    col += 1
                col_of[x] = col
                prev = x
            for rno, r in enumerate(seg_rows):
                cells: Dict[int, List[Tuple[float, str]]] = {}
                for x, t in r:
                    cells.setdefault(col_of[x], []).append((x, t))
                for cno, parts in sorted(cells.items()):
                    text = " ".join(t for _, t in sorted(parts))
                    out.append((pno, rno, cno, text))
    except Exception:
        return []
    return out
