"""hdf5lite — minimal pure-Python/numpy HDF5 reader + writer.

The reference's upstream data is HDF5: ATL06/ATL11 land-ice granules
whose per-beam groups hold equal-length 1-D numeric datasets
(``/root/reference/atl06_to_atl11.py:171-196`` reads
``<beam>/land_ice_segments/{latitude, longitude, h_li, ...}``;
``atl06_play.py:318-327`` walks the same layout). The container ships
no h5py, so this module implements the subset of the public HDF5 File
Format Specification (v3, hdfgroup.org) that those granules use:

Reader (``File``):
- superblock v0/v1 (symbol-table root) and v2/v3 (root header addr),
- version-1 and version-2 ("OHDR") object headers, incl. header
  continuation blocks,
- old-style groups (symbol-table message -> v1 B-tree -> SNOD -> local
  heap), new-style compact groups (Link messages in the header), and
  new-style DENSE groups (round 4): Link Info -> fractal heap (root
  direct block, or root indirect block over direct-block rows) + v2
  B-tree name index (depth 0) -> link messages,
- datatype classes 0 (fixed-point), 1 (IEEE float) and 3 (fixed-length
  string, round 4); little- AND big-endian numerics (round 9 — BE
  files read normalized-to-native; byte_order='big' writes them),
- dataspace v1/v2, data layout v3 (compact / contiguous / chunked with
  v1 B-tree chunk index), filter pipeline v1/v2 with gzip (deflate)
  and shuffle filters,
- partial reads: axis-0 slices (any rank since round 9 — the ATL11
  ``h_corr[ref_pt, cycle]`` shape, assembled across multi-axis chunk
  grids) touch only the bytes/chunks they need — this is what makes
  the executor-side stripe scan (``sources/stripes.py``, fed by
  ``sources/hdf5.py``) O(stripe), not O(file).

Writer (``write_hdf5``):
- superblock v0, v1 object headers, symbol-table groups (B-tree v1 +
  local heap + SNOD), contiguous or chunked(+gzip, +shuffle) numeric
  datasets of any rank (``chunk_rows`` chunks axis 0; ``chunk_shape``
  pins a full N-D chunk grid). Files verify against h5py when it is
  available (tests/test_hdf5.py cross-checks both directions under
  importorskip).

This is an ingest-format shim, not a general HDF5 library: enough to
round-trip the reference's granule layout and to read h5py-default
(libver='earliest', the libhdf5 default) files.
"""

from __future__ import annotations

import struct
import zlib
from dataclasses import dataclass, field

import numpy as np

UNDEF = 0xFFFFFFFFFFFFFFFF
SIGNATURE = b"\x89HDF\r\n\x1a\n"


def _h5_len_bytes(v: int) -> int:
    """libhdf5's byte-width rule for variable-size count fields:
    (floor(log2 v) + 7) / 8 — note the boundary quirk (v = 256 still
    yields 1) is part of the on-disk format and must be replicated."""
    return ((v.bit_length() - 1) + 7) // 8 if v > 0 else 1


def _v2btree_sizes(node_size: int, rec_size: int, depth: int) -> dict:
    """Per-depth capacity/field-size table for a v2 B-tree (HDF5 spec
    III.A.2): leaf capacity, internal capacities, child-pointer widths.
    ``ptr_size[d]`` is the serialized size of one child pointer INSIDE
    a node at depth d: address(8) + nrec(max_nrec_size) + total-records
    (cum size of depth d-1, present only when d > 1)."""
    cap = {0: (node_size - 10) // rec_size}  # prefix: sig+ver+type+chksum
    max_nrec_size = _h5_len_bytes(cap[0])
    cum = {0: cap[0]}
    cum_size = {0: 0}  # leaf pointers carry no total-records field
    ptr_size: dict[int, int] = {}
    for d in range(1, depth + 1):
        ptr_size[d] = 8 + max_nrec_size + cum_size[d - 1]
        cap[d] = (node_size - (10 + ptr_size[d])) // (rec_size + ptr_size[d])
        cum[d] = (cap[d] + 1) * cum[d - 1] + cap[d]
        cum_size[d] = _h5_len_bytes(cum[d])
    return {
        "cap": cap,
        "cum": cum,
        "cum_size": cum_size,
        "ptr_size": ptr_size,
        "max_nrec_size": max_nrec_size,
    }


def _lookup3(data: bytes, initval: int = 0) -> int:
    """Bob Jenkins lookup3 (hashlittle) — the checksum/hash HDF5 uses
    for v2 B-tree name hashing and metadata-block checksums (public
    format spec appendix; algorithm is public domain)."""
    mask = 0xFFFFFFFF

    def rot(x: int, k: int) -> int:
        return ((x << k) | (x >> (32 - k))) & mask

    length = len(data)
    a = b = c = (0xDEADBEEF + length + initval) & mask
    i = 0
    while length > 12:
        a = (a + int.from_bytes(data[i : i + 4], "little")) & mask
        b = (b + int.from_bytes(data[i + 4 : i + 8], "little")) & mask
        c = (c + int.from_bytes(data[i + 8 : i + 12], "little")) & mask
        a = (a - c) & mask; a ^= rot(c, 4); c = (c + b) & mask  # noqa: E702
        b = (b - a) & mask; b ^= rot(a, 6); a = (a + c) & mask  # noqa: E702
        c = (c - b) & mask; c ^= rot(b, 8); b = (b + a) & mask  # noqa: E702
        a = (a - c) & mask; a ^= rot(c, 16); c = (c + b) & mask  # noqa: E702
        b = (b - a) & mask; b ^= rot(a, 19); a = (a + c) & mask  # noqa: E702
        c = (c - b) & mask; c ^= rot(b, 4); b = (b + a) & mask  # noqa: E702
        i += 12
        length -= 12
    if length > 0:
        tail = data[i:] + b"\x00" * (12 - length)
        a = (a + int.from_bytes(tail[0:4], "little")) & mask
        b = (b + int.from_bytes(tail[4:8], "little")) & mask
        c = (c + int.from_bytes(tail[8:12], "little")) & mask
        c ^= b; c = (c - rot(b, 14)) & mask  # noqa: E702
        a ^= c; a = (a - rot(c, 11)) & mask  # noqa: E702
        b ^= a; b = (b - rot(a, 25)) & mask  # noqa: E702
        c ^= b; c = (c - rot(b, 16)) & mask  # noqa: E702
        a ^= c; a = (a - rot(c, 4)) & mask  # noqa: E702
        b ^= a; b = (b - rot(a, 14)) & mask  # noqa: E702
        c ^= b; c = (c - rot(b, 24)) & mask  # noqa: E702
    return c

# ---------------------------------------------------------------------------
# Reader
# ---------------------------------------------------------------------------


def _native(a):
    """Big-endian arrays/scalars → native order at the read boundary
    (the file dtype steers frombuffer; callers always see native)."""
    if isinstance(a, (np.ndarray, np.generic)) and a.dtype.byteorder == ">":
        return a.astype(a.dtype.newbyteorder("="))
    return a


@dataclass
class _Dataset:
    """Lazy handle: metadata parsed, bytes read on demand."""

    name: str
    shape: tuple[int, ...]
    dtype: np.dtype
    layout_class: int  # 0 compact, 1 contiguous, 2 chunked
    data_address: int = UNDEF  # contiguous
    data_size: int = 0
    compact_data: bytes | None = None
    chunk_shape: tuple[int, ...] | None = None
    btree_address: int = UNDEF
    filters: list[tuple[int, tuple[int, ...]]] = field(default_factory=list)
    _file: "File" = None  # type: ignore[assignment]

    @property
    def chunks(self) -> tuple[int, ...] | None:
        return self.chunk_shape

    @property
    def size(self) -> int:
        return int(np.prod(self.shape)) if self.shape else 1

    def __len__(self) -> int:
        return self.shape[0] if self.shape else 0

    def __getitem__(self, key):
        if key is Ellipsis or (isinstance(key, slice) and key == slice(None)):
            return _native(self._read_range(0, self.shape[0] if self.shape else 1))
        if isinstance(key, slice):
            # slicing selects along axis 0 (h5py semantics for d[a:b]);
            # trailing axes come back whole — N-D since round 9
            start, stop, step = key.indices(self.shape[0])
            if step != 1:
                return _native(self._read_range(start, stop)[::step])
            return _native(self._read_range(start, stop))
        if isinstance(key, (int, np.integer)):
            i = int(key)
            if i < 0:
                i += self.shape[0]
            return _native(self._read_range(i, i + 1)[0])
        raise TypeError(f"hdf5lite: unsupported index {key!r}")

    # -- IO ---------------------------------------------------------------
    def _read_range(self, start: int, stop: int) -> np.ndarray:
        """Read rows [start, stop) along axis 0, touching only the bytes
        (contiguous) or chunks (chunked) that overlap the range."""
        stop = max(start, stop)
        if not self.shape:  # scalar
            raw = self._file._pread(self.data_address, self.dtype.itemsize)
            return np.frombuffer(raw, dtype=self.dtype)[0]
        row_elems = int(np.prod(self.shape[1:])) if len(self.shape) > 1 else 1
        n = stop - start
        if self.layout_class == 0:  # compact: payload lives in the header
            full = np.frombuffer(self.compact_data, dtype=self.dtype).reshape(self.shape)
            return full[start:stop].copy()
        if self.layout_class == 1:  # contiguous
            if self.data_address == UNDEF:  # never allocated: fill = zeros
                return np.zeros((n,) + self.shape[1:], dtype=self.dtype)
            isz = self.dtype.itemsize * row_elems
            raw = self._file._pread(self.data_address + start * isz, n * isz)
            return (
                np.frombuffer(raw, dtype=self.dtype)
                .reshape((n,) + self.shape[1:])
                .copy()
            )
        # chunked
        out = np.zeros((n,) + self.shape[1:], dtype=self.dtype)
        if self.btree_address == UNDEF:
            # created-but-never-written dataset: no chunk B-tree was ever
            # allocated (legal libhdf5 output) — fill = zeros, mirroring
            # the contiguous data_address == UNDEF branch above
            return out
        cs0 = self.chunk_shape[0]
        for coords, addr, nbytes, fmask in self._file._iter_chunks_rk(
            self.btree_address, len(self.shape)
        ):
            c0 = coords[0]
            if c0 >= stop or c0 + cs0 <= start:
                continue
            chunk = self._decode_chunk(addr, nbytes, fmask)
            lo = max(start, c0)
            hi = min(stop, c0 + chunk.shape[0], self.shape[0])
            # general N-D assembly: axis 0 clipped to the requested
            # range, every trailing axis placed at its chunk-grid
            # coordinate (edge chunks are stored full-size → clip to
            # the dataspace extent per axis). Rank 1 degenerates to
            # the old single-slice assignment.
            dst: list[slice] = [slice(lo - start, hi - start)]
            src: list[slice] = [slice(lo - c0, hi - c0)]
            for ax in range(1, len(self.shape)):
                a0 = coords[ax]
                a1 = min(a0 + self.chunk_shape[ax], self.shape[ax])
                dst.append(slice(a0, a1))
                src.append(slice(0, a1 - a0))
            out[tuple(dst)] = chunk[tuple(src)]
        return out

    def _decode_chunk(self, addr: int, nbytes: int, filter_mask: int) -> np.ndarray:
        raw = self._file._pread(addr, nbytes)
        # filters apply in pipeline order on write; reverse on read
        for idx in range(len(self.filters) - 1, -1, -1):
            fid, vals = self.filters[idx]
            if filter_mask & (1 << idx):
                continue  # skipped for this chunk
            if fid == 1:  # gzip / deflate
                raw = zlib.decompress(raw)
            elif fid == 2:  # shuffle: byte-transpose, itemsize from client value
                isz = vals[0] if vals else self.dtype.itemsize
                arr = np.frombuffer(raw, dtype=np.uint8)
                n = len(arr) // isz
                raw = arr[: n * isz].reshape(isz, n).T.tobytes() + raw[n * isz :]
            elif fid == 3:  # fletcher32 checksum: payload + 4 checksum bytes
                raw = raw[:-4]
            else:
                raise NotImplementedError(f"hdf5lite: filter id {fid} not supported")
        chunk = np.frombuffer(raw, dtype=self.dtype)
        # edge chunks are stored full-size; reshape then let caller clip
        return chunk[: int(np.prod(self.chunk_shape))].reshape(self.chunk_shape)


class _Group:
    def __init__(self, file: "File", name: str, entries: dict[str, int]):
        self._file = file
        self.name = name
        self._entries = entries  # link name -> object header address

    def keys(self):
        return self._entries.keys()

    def __contains__(self, name: str) -> bool:
        head, _, rest = name.strip("/").partition("/")
        if head not in self._entries:
            return False
        if not rest:
            return True
        child = self._file._load_object(self._entries[head], head)
        return isinstance(child, _Group) and rest in child

    def __getitem__(self, name: str):
        obj = self
        for part in name.strip("/").split("/"):
            if not isinstance(obj, _Group) or part not in obj._entries:
                raise KeyError(f"hdf5lite: no object {name!r} under {self.name!r}")
            obj = self._file._load_object(obj._entries[part], part)
        return obj


class File:
    """Read-only HDF5 file handle (context manager)."""

    def __init__(self, path: str):
        self._fh = open(path, "rb")
        self._chunk_cache: dict[int, list] = {}
        self._root = self._parse_superblock()

    # -- plumbing ---------------------------------------------------------
    def _pread(self, addr: int, n: int) -> bytes:
        self._fh.seek(addr)
        return self._fh.read(n)

    def close(self):
        self._fh.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()

    def keys(self):
        return self._root.keys()

    def __contains__(self, name: str) -> bool:
        return name in self._root

    def __getitem__(self, name: str):
        return self._root[name]

    # -- superblock -------------------------------------------------------
    def _parse_superblock(self) -> _Group:
        head = self._pread(0, 8)
        if head != SIGNATURE:
            raise ValueError("hdf5lite: not an HDF5 file (bad signature)")
        version = self._pread(8, 1)[0]
        if version in (0, 1):
            blob = self._pread(8, 88)
            size_off, size_len = blob[5], blob[6]
            if (size_off, size_len) != (8, 8):
                raise NotImplementedError("hdf5lite: only 8-byte offsets/lengths")
            # v1 inserts 4 extra bytes (indexed-storage K + reserved)
            base = 24 if version == 0 else 28
            # base addr, free addr, eof, driver info (4*8), then root entry
            entry = self._pread(base + 32, 40)
            ohdr_addr = struct.unpack_from("<Q", entry, 8)[0]
            return self._load_group(ohdr_addr, "/")
        if version in (2, 3):
            # bytes at 8..12 are [version, size_of_offsets, size_of_lengths, flags]
            blob = self._pread(8, 4)
            if (blob[1], blob[2]) != (8, 8):
                raise NotImplementedError("hdf5lite: only 8-byte offsets/lengths")
            root_addr = struct.unpack("<Q", self._pread(12 + 24, 8))[0]
            return self._load_group(root_addr, "/")
        raise NotImplementedError(f"hdf5lite: superblock version {version}")

    # -- object headers ---------------------------------------------------
    def _read_messages(self, addr: int) -> list[tuple[int, bytes]]:
        """All (type, body) messages of the object header at addr,
        following continuation blocks, for v1 and v2 headers."""
        first = self._pread(addr, 4)
        msgs: list[tuple[int, bytes]] = []
        if first == b"OHDR":  # version 2
            ver, flags = self._pread(addr + 4, 2)
            if ver != 2:
                raise NotImplementedError(f"hdf5lite: OHDR version {ver}")
            pos = addr + 6
            if flags & 0x20:
                pos += 16  # access/mod/change/birth times
            if flags & 0x10:
                pos += 4  # max compact / min dense
            size_bytes = 1 << (flags & 0x3)
            chunk0 = int.from_bytes(self._pread(pos, size_bytes), "little")
            pos += size_bytes
            track_order = bool(flags & 0x4)
            msg_hdr = 4 + (2 if track_order else 0)
            # chunk0 size covers the message data (prefix and trailing
            # checksum excluded); OCHK continuations carry sig + checksum
            blocks = [(pos, chunk0, False)]
            while blocks:
                bpos, blen, is_cont = blocks.pop(0)
                if is_cont:
                    if self._pread(bpos, 4) != b"OCHK":
                        raise ValueError("hdf5lite: bad OCHK signature")
                    bpos += 4
                    blen -= 8  # signature + trailing checksum
                p, end = bpos, bpos + blen
                while end - p >= msg_hdr:
                    mtype = self._pread(p, 1)[0]
                    msize = struct.unpack("<H", self._pread(p + 1, 2))[0]
                    p += msg_hdr
                    body = self._pread(p, msize)
                    p += msize
                    if mtype == 0x10:  # continuation: offset(8) + length(8)
                        caddr, clen = struct.unpack_from("<QQ", body, 0)
                        blocks.append((caddr, clen, True))
                    else:
                        msgs.append((mtype, body))
            return msgs
        # version 1
        ver = first[0]
        if ver != 1:
            raise NotImplementedError(f"hdf5lite: object header version {ver}")
        nmsgs = struct.unpack("<H", first[2:4])[0]
        hdr_size = struct.unpack("<I", self._pread(addr + 8, 4))[0]
        blocks = [(addr + 16, hdr_size)]
        seen = 0
        while blocks and seen < nmsgs:
            bpos, blen = blocks.pop(0)
            p, end = bpos, bpos + blen
            while p + 8 <= end and seen < nmsgs:
                mtype, msize = struct.unpack("<HH", self._pread(p, 4))
                body = self._pread(p + 8, msize)
                p += 8 + msize
                seen += 1
                if mtype == 0x10:
                    caddr, clen = struct.unpack_from("<QQ", body, 0)
                    blocks.append((caddr, clen))
                else:
                    msgs.append((mtype, body))
        return msgs

    def _load_object(self, addr: int, name: str):
        msgs = self._read_messages(addr)
        types = [t for t, _ in msgs]
        if 0x0011 in types or 0x0006 in types or 0x0002 in types:
            return self._group_from_messages(msgs, name)
        if 0x0001 in types and 0x0003 in types:
            return self._dataset_from_messages(msgs, name)
        # a group with zero links has only a link-info (or nothing useful)
        return self._group_from_messages(msgs, name)

    def _load_group(self, addr: int, name: str) -> _Group:
        obj = self._load_object(addr, name)
        if not isinstance(obj, _Group):
            raise ValueError(f"hdf5lite: object {name!r} is not a group")
        return obj

    # -- groups -----------------------------------------------------------
    def _group_from_messages(self, msgs, name: str) -> _Group:
        entries: dict[str, int] = {}
        for mtype, body in msgs:
            if mtype == 0x0011:  # symbol table: btree addr + heap addr
                btree_addr, heap_addr = struct.unpack_from("<QQ", body, 0)
                entries.update(self._walk_group_btree(btree_addr, heap_addr))
            elif mtype == 0x0006:  # link message (compact new-style group)
                lname, target = self._parse_link(body)
                if target is not None:
                    entries[lname] = target
            elif mtype == 0x0002:  # link info: dense (fractal-heap) storage
                p = 2 + (8 if body[1] & 1 else 0)
                fheap_addr, name_btree_addr = struct.unpack_from("<QQ", body, p)
                if fheap_addr != UNDEF:
                    entries.update(
                        self._walk_dense_links(fheap_addr, name_btree_addr)
                    )
        return _Group(self, name, entries)

    # -- dense groups: fractal heap + v2 B-tree name index ----------------
    def _walk_dense_links(self, fheap_addr: int, btree_addr: int) -> dict[str, int]:
        """Dense new-style group: every link is a serialized Link
        message stored as a managed object in the group's fractal heap;
        the v2 B-tree name index holds (hash, heap id) records. We
        enumerate the records and resolve each heap id."""
        heap = self._parse_fractal_heap(fheap_addr)
        entries: dict[str, int] = {}
        for hid in self._v2btree_heap_ids(btree_addr):
            lname, target = self._parse_link(heap(hid))
            if target is not None:
                entries[lname] = target
        return entries

    def _parse_fractal_heap(self, addr: int):  # noqa: C901
        """Returns a callable heap_id_bytes -> object bytes for MANAGED
        objects of the fractal heap at ``addr``."""
        hdr = self._pread(addr, 146)
        if hdr[:4] != b"FRHP":
            raise ValueError("hdf5lite: bad fractal heap signature")
        if hdr[4] != 0:
            raise NotImplementedError(f"hdf5lite: fractal heap version {hdr[4]}")
        filt_len = struct.unpack_from("<H", hdr, 7)[0]
        if filt_len:
            raise NotImplementedError("hdf5lite: filtered fractal heaps")
        max_managed = struct.unpack_from("<I", hdr, 10)[0]
        table_width = struct.unpack_from("<H", hdr, 110)[0]
        start_block = struct.unpack_from("<Q", hdr, 112)[0]
        max_direct = struct.unpack_from("<Q", hdr, 120)[0]
        max_heap_bits = struct.unpack_from("<H", hdr, 128)[0]
        root_addr = struct.unpack_from("<Q", hdr, 132)[0]
        cur_rows = struct.unpack_from("<H", hdr, 140)[0]
        offset_size = (max_heap_bits + 7) // 8
        length_size = max(1, (max_managed.bit_length() + 7) // 8)

        # map heap offset -> (file addr of containing block, block start)
        ib_head = 4 + 1 + 8 + offset_size

        def rows_covering(size: int) -> int:
            # child indirect block row count: size_to_rows from the
            # public HDF5 spec's doubling table (III.G) —
            # log2(size) - log2(start_block * width) + 1, since a
            # child of n rows covers width*start*2^(n-1) bytes
            return (
                (size.bit_length() - 1)
                - (start_block.bit_length() - 1)
                - (table_width.bit_length() - 1)
                + 1
            )

        def descend(ib_addr: int, nrows: int, base: int, heap_off: int):
            """Walk one indirect block (root or child): direct rows
            resolve immediately; indirect rows (block size beyond the
            max direct size) recurse into the child indirect block
            covering the offset (round 8 — 'indirect-over-indirect'
            rows, the catalog-scale heap layout)."""
            ib = self._pread(ib_addr, ib_head + nrows * table_width * 8)
            if ib[:4] != b"FHIB":
                raise ValueError("hdf5lite: bad fractal heap indirect block")
            off = base
            slot = 0
            for row in range(nrows):
                bsize = start_block if row <= 1 else start_block << (row - 1)
                for _ in range(table_width):
                    if off <= heap_off < off + bsize:
                        child = struct.unpack_from("<Q", ib, ib_head + slot * 8)[0]
                        if child == UNDEF:
                            raise ValueError(
                                "hdf5lite: heap offset in unallocated block"
                            )
                        if bsize > max_direct:
                            return descend(
                                child, rows_covering(bsize), off, heap_off
                            )
                        return child, off
                    off += bsize
                    slot += 1
            raise ValueError("hdf5lite: heap offset beyond indirect block rows")

        def block_of(heap_off: int) -> tuple[int, int]:
            if cur_rows == 0:  # root IS a direct block covering [0, size)
                return root_addr, 0
            return descend(root_addr, cur_rows, 0, heap_off)

        def read_object(heap_id: bytes) -> bytes:
            flag = heap_id[0]
            if (flag >> 4) & 0x3 != 0:
                raise NotImplementedError("hdf5lite: only managed heap objects")
            off = int.from_bytes(heap_id[1 : 1 + offset_size], "little")
            ln = int.from_bytes(
                heap_id[1 + offset_size : 1 + offset_size + length_size], "little"
            )
            baddr, bstart = block_of(off)
            return self._pread(baddr + (off - bstart), ln)

        return read_object

    def _v2btree_heap_ids(self, addr: int) -> list[bytes]:
        """All record heap-ids of the v2 B-tree at ``addr`` (type 5/6
        dense-link indexes), ANY depth (round 8 — depth-0 single-leaf
        covered granule-sized groups; catalog-scale dense groups split
        into internal BTIN nodes once the leaf capacity overflows).

        Internal-node child pointers carry variable-width record
        counts: the 'number of records' field uses the minimum bytes
        for the LEAF capacity (the largest any node can hold) and, at
        depth > 1, a 'total records in subtree' field sized by the
        cumulative subtree capacity — both per the v2 B-tree capacity
        math in the public HDF5 file-format spec (III.A.2), matching
        libhdf5's (floor(log2 v)+7)/8 byte sizing exactly, boundary
        quirks included."""
        hdr = self._pread(addr, 34)
        if hdr[:4] != b"BTHD":
            raise ValueError("hdf5lite: bad v2 B-tree signature")
        btype = hdr[5]
        node_size = struct.unpack_from("<I", hdr, 6)[0]
        rec_size = struct.unpack_from("<H", hdr, 10)[0]
        depth = struct.unpack_from("<H", hdr, 12)[0]
        root = struct.unpack_from("<Q", hdr, 16)[0]
        root_nrec = struct.unpack_from("<H", hdr, 24)[0]
        if btype == 5:  # name index: 4-byte hash + heap id
            key_len = 4
        elif btype == 6:  # creation-order index: 8-byte order + heap id
            key_len = 8
        else:
            raise NotImplementedError(f"hdf5lite: v2 B-tree record type {btype}")

        sizes = _v2btree_sizes(node_size, rec_size, depth)
        out: list[bytes] = []

        def walk(naddr: int, nrec: int, d: int) -> None:
            if d == 0:
                leaf = self._pread(naddr, 6 + nrec * rec_size)
                if leaf[:4] != b"BTLF":
                    raise ValueError("hdf5lite: bad v2 B-tree leaf signature")
                for i in range(nrec):
                    rec = leaf[6 + i * rec_size : 6 + (i + 1) * rec_size]
                    out.append(rec[key_len:])
                return
            ptr_size = sizes["ptr_size"][d]
            used = 6 + nrec * rec_size + (nrec + 1) * ptr_size
            node = self._pread(naddr, used)
            if node[:4] != b"BTIN":
                raise ValueError("hdf5lite: bad v2 B-tree internal signature")
            base = 6 + nrec * rec_size
            for i in range(nrec + 1):
                p = base + i * ptr_size
                caddr = struct.unpack_from("<Q", node, p)[0]
                cnrec = int.from_bytes(
                    node[p + 8 : p + 8 + sizes["max_nrec_size"]], "little"
                )
                walk(caddr, cnrec, d - 1)
                # internal records are REAL records (B-tree, not B+):
                # collect the separator after child i, keeping key order
                if i < nrec:
                    rec = node[6 + i * rec_size : 6 + (i + 1) * rec_size]
                    out.append(rec[key_len:])

        walk(root, root_nrec, depth)
        return out

    def _parse_link(self, body: bytes) -> tuple[str, int | None]:
        ver, flags = body[0], body[1]
        p = 2
        ltype = 0
        if flags & 0x08:
            ltype = body[p]
            p += 1
        if flags & 0x04:
            p += 8  # creation order
        if flags & 0x10:
            p += 1  # charset
        nlen_size = 1 << (flags & 0x3)
        nlen = int.from_bytes(body[p : p + nlen_size], "little")
        p += nlen_size
        lname = body[p : p + nlen].decode("utf-8")
        p += nlen
        if ltype == 0:  # hard link: object header address
            return lname, struct.unpack_from("<Q", body, p)[0]
        return lname, None  # soft/external links ignored

    def _walk_group_btree(self, btree_addr: int, heap_addr: int) -> dict[str, int]:
        heap_data_addr, heap_size = self._parse_local_heap(heap_addr)
        heap = self._pread(heap_data_addr, heap_size)

        def name_at(off: int) -> str:
            end = heap.index(b"\x00", off)
            return heap[off:end].decode("utf-8")

        entries: dict[str, int] = {}
        stack = [btree_addr]
        while stack:
            addr = stack.pop()
            sig = self._pread(addr, 4)
            if sig == b"SNOD":
                nsym = struct.unpack("<H", self._pread(addr + 6, 2))[0]
                for i in range(nsym):
                    e = self._pread(addr + 8 + 40 * i, 40)
                    off, ohdr = struct.unpack_from("<QQ", e, 0)
                    entries[name_at(off)] = ohdr
                continue
            if sig != b"TREE":
                raise ValueError(f"hdf5lite: bad group B-tree signature {sig!r}")
            level = self._pread(addr + 5, 1)[0]
            used = struct.unpack("<H", self._pread(addr + 6, 2))[0]
            # keys (8) and children (8) alternate, starting and ending with a key
            base = addr + 24
            for i in range(used):
                child = struct.unpack(
                    "<Q", self._pread(base + 8 + i * 16, 8)
                )[0]
                if level > 0:
                    stack.append(child)
                else:
                    stack.append(child)  # child of leaf group node is a SNOD
        return entries

    def _parse_local_heap(self, addr: int) -> tuple[int, int]:
        blob = self._pread(addr, 32)
        if blob[:4] != b"HEAP":
            raise ValueError("hdf5lite: bad local heap signature")
        size, _free, data_addr = struct.unpack_from("<QQQ", blob, 8)
        return data_addr, size

    # -- datasets ---------------------------------------------------------
    def _dataset_from_messages(self, msgs, name: str) -> _Dataset:
        shape: tuple[int, ...] = ()
        dtype: np.dtype | None = None
        d = _Dataset(name=name, shape=(), dtype=np.dtype("f8"), layout_class=1)
        for mtype, body in msgs:
            if mtype == 0x0001:
                shape = self._parse_dataspace(body)
            elif mtype == 0x0003:
                dtype = self._parse_datatype(body)
            elif mtype == 0x0008:
                self._parse_layout(body, d)
            elif mtype == 0x000B:
                d.filters = self._parse_filters(body)
        if dtype is None:
            raise ValueError(f"hdf5lite: dataset {name!r} has no datatype")
        d.shape, d.dtype, d._file = shape, dtype, self
        return d

    @staticmethod
    def _parse_dataspace(body: bytes) -> tuple[int, ...]:
        ver = body[0]
        if ver == 1:
            ndims, flags = body[1], body[2]
            p = 8
        elif ver == 2:
            ndims, flags = body[1], body[2]
            p = 4
        else:
            raise NotImplementedError(f"hdf5lite: dataspace version {ver}")
        return tuple(
            struct.unpack_from("<Q", body, p + 8 * i)[0] for i in range(ndims)
        )

    @staticmethod
    def _parse_datatype(body: bytes) -> np.dtype:
        cls_ver = body[0]
        cls, ver = cls_ver & 0x0F, cls_ver >> 4
        bf0 = body[1]
        size = struct.unpack_from("<I", body, 4)[0]
        # bit 0 of the class bit field = byte order (round 9: BE files
        # from older tools read fine — every read exit normalizes to
        # native order, the file dtype only steers frombuffer)
        bo = ">" if (cls in (0, 1) and bf0 & 0x01) else "<"
        if cls == 0:  # fixed-point
            signed = bool(bf0 & 0x08)
            return np.dtype(f"{bo}{'i' if signed else 'u'}{size}")
        if cls == 1:  # IEEE float
            return np.dtype(f"{bo}f{size}")
        if cls == 3:  # fixed-length string (padding/charset irrelevant
            # to the byte layout; numpy S-type strips trailing NULs)
            return np.dtype(f"S{size}")
        raise NotImplementedError(f"hdf5lite: datatype class {cls} not supported")

    @staticmethod
    def _parse_layout(body: bytes, d: _Dataset) -> None:
        ver = body[0]
        if ver == 3:
            cls = body[1]
            d.layout_class = cls
            if cls == 0:  # compact
                size = struct.unpack_from("<H", body, 2)[0]
                d.compact_data = body[4 : 4 + size]
            elif cls == 1:  # contiguous
                d.data_address, d.data_size = struct.unpack_from("<QQ", body, 2)
            elif cls == 2:  # chunked, v1 B-tree index
                ndims = body[2]  # = dataset rank + 1
                d.btree_address = struct.unpack_from("<Q", body, 3)[0]
                dims = struct.unpack_from(f"<{ndims}I", body, 11)
                d.chunk_shape = tuple(dims[:-1])  # last entry = element size
            else:
                raise NotImplementedError(f"hdf5lite: layout class {cls}")
        elif ver == 4:
            cls = body[1]
            d.layout_class = cls
            if cls != 2:
                raise NotImplementedError("hdf5lite: layout v4 only for chunked")
            flags = body[2]
            ndims = body[3]
            enc = body[4]
            p = 5
            dims = [int.from_bytes(body[p + i * enc : p + (i + 1) * enc], "little") for i in range(ndims)]
            p += ndims * enc
            d.chunk_shape = tuple(dims[:-1])
            index_type = body[p]
            raise NotImplementedError(
                f"hdf5lite: layout v4 chunk index type {index_type} not supported "
                "(write with libver='earliest')"
            )
        else:
            raise NotImplementedError(f"hdf5lite: layout version {ver}")

    @staticmethod
    def _parse_filters(body: bytes) -> list[tuple[int, tuple[int, ...]]]:
        ver = body[0]
        nf = body[1]
        filters = []
        if ver == 1:
            p = 8
            for _ in range(nf):
                fid, nlen, flags, nvals = struct.unpack_from("<HHHH", body, p)
                p += 8
                p += (nlen + 7) // 8 * 8  # name, padded to 8
                vals = struct.unpack_from(f"<{nvals}I", body, p)
                p += 4 * nvals
                if nvals % 2:
                    p += 4
                filters.append((fid, vals))
        elif ver == 2:
            p = 2
            for _ in range(nf):
                fid = struct.unpack_from("<H", body, p)[0]
                p += 2
                nlen = 0
                if fid >= 256:
                    nlen = struct.unpack_from("<H", body, p)[0]
                    p += 2
                flags, nvals = struct.unpack_from("<HH", body, p)
                p += 4 + nlen
                vals = struct.unpack_from(f"<{nvals}I", body, p)
                p += 4 * nvals
                filters.append((fid, vals))
        else:
            raise NotImplementedError(f"hdf5lite: filter pipeline version {ver}")
        return filters

    # -- chunk B-tree (v1, node type 1) -----------------------------------
    def _iter_chunks_rk(self, btree_addr: int, rank: int):
        """(coords, address, nbytes, filter_mask) for every stored chunk
        under the v1 B-tree at btree_addr. Key size depends on dataset
        rank (nbytes 4 + mask 4 + (rank+1) offsets of 8), so the caller
        threads the rank in; results are cached per (tree, rank)."""
        key_n = rank + 1
        key_size = 8 + 8 * key_n
        cache_key = (btree_addr, rank)
        if cache_key in self._chunk_cache:
            return self._chunk_cache[cache_key]
        out = []
        stack = [btree_addr]
        while stack:
            addr = stack.pop()
            hdr = self._pread(addr, 24)
            if hdr[:4] != b"TREE":
                raise ValueError("hdf5lite: bad chunk B-tree signature")
            level = hdr[5]
            used = struct.unpack_from("<H", hdr, 6)[0]
            body = self._pread(addr + 24, used * (key_size + 8) + key_size)
            for i in range(used):
                koff = i * (key_size + 8)
                nbytes, fmask = struct.unpack_from("<II", body, koff)
                coords = struct.unpack_from(f"<{key_n}Q", body, koff + 8)
                child = struct.unpack_from("<Q", body, koff + key_size)[0]
                if level > 0:
                    stack.append(child)
                else:
                    out.append((coords[:-1], child, nbytes, fmask))
        self._chunk_cache[cache_key] = out
        return out


# ---------------------------------------------------------------------------
# Writer
# ---------------------------------------------------------------------------


def _pad8(b: bytes) -> bytes:
    return b + b"\x00" * (-len(b) % 8)


def _msg_v1(mtype: int, body: bytes) -> bytes:
    body = _pad8(body)
    return struct.pack("<HHB3x", mtype, len(body), 0) + body


def _datatype_msg(dt: np.dtype) -> bytes:
    dt = np.dtype(dt)
    be = 0x01 if dt.byteorder == ">" else 0x00  # class bit 0 = byte order
    if dt.kind in "iu":
        bf0 = (0x08 if dt.kind == "i" else 0x00) | be
        head = struct.pack("<BBBBI", (1 << 4) | 0, bf0, 0, 0, dt.itemsize)
        props = struct.pack("<HH", 0, 8 * dt.itemsize)
        return head + props
    if dt.kind == "f":
        if dt.itemsize == 4:
            props = struct.pack("<HHBBBBI", 0, 32, 23, 8, 0, 23, 127)
            sign_loc = 31
        elif dt.itemsize == 8:
            props = struct.pack("<HHBBBBI", 0, 64, 52, 11, 0, 52, 1023)
            sign_loc = 63
        else:
            raise TypeError(f"hdf5lite: unsupported float size {dt.itemsize}")
        head = struct.pack("<BBBBI", (1 << 4) | 1, 0x20 | be, sign_loc, 0, dt.itemsize)
        return head + props
    if dt.kind == "S":  # fixed-length string: null-terminated, ASCII
        return struct.pack("<BBBBI", (1 << 4) | 3, 0, 0, 0, dt.itemsize)
    raise TypeError(f"hdf5lite: unsupported dtype {dt}")


def _dataspace_msg(shape: tuple[int, ...]) -> bytes:
    head = struct.pack("<BBB5x", 1, len(shape), 0)
    return head + b"".join(struct.pack("<Q", s) for s in shape)


def _object_header_v1(messages: list[tuple[int, bytes]]) -> bytes:
    blob = b"".join(_msg_v1(t, b) for t, b in messages)
    # version, reserved, nmsgs, refcount, header size, 4-byte pad to 16
    return struct.pack("<BxHII4x", 1, len(messages), 1, len(blob)) + blob


class _Alloc:
    """Bump allocator: reserve() hands out 8-aligned addresses, blobs
    are rendered later once every cross-reference is known."""

    def __init__(self):
        self.pos = 0
        self.blocks: list[tuple[int, int]] = []  # (addr, size)

    def reserve(self, size: int) -> int:
        addr = (self.pos + 7) & ~7
        self.pos = addr + size
        self.blocks.append((addr, size))
        return addr


def write_hdf5(
    path: str,
    groups: dict[str, dict[str, np.ndarray]],
    *,
    chunk_rows: int | None = None,
    chunk_shape: tuple[int, ...] | None = None,
    gzip: int | None = None,
    shuffle: bool = False,
    dense_groups: bool = False,
    dense_node_size: int | None = None,
    dense_heap: tuple[int, int, int] | None = None,
    byte_order: str = "little",
) -> None:
    """Write a minimal HDF5 file: ``groups`` maps a (possibly nested)
    group path like ``"gt1l/land_ice_segments"`` to a dict of numpy
    arrays (numeric or fixed-length ``S`` strings; N-D since round 9 —
    the ATL11 ``h_corr[ref_pt, cycle]`` shape). ``chunk_rows``
    switches datasets from contiguous to chunked storage, chunking
    axis 0 with full trailing dims; ``chunk_shape`` instead pins a
    FULL N-D chunk grid for datasets of matching rank (rank-mismatched
    datasets chunk at its axis-0 extent with full trailing dims, so a
    requested filter always applies) — the multi-axis layout libhdf5
    defaults to for 2-D data. ``gzip`` (level) and ``shuffle`` add the matching
    filters (chunked only, like HDF5 itself). Default layout:
    superblock v0 + v1 object headers + symbol-table groups — what
    libhdf5 writes by default.

    ``dense_groups=True`` writes every group in the NEW-style dense
    layout instead (Link Info message -> fractal heap of link messages
    + v2 B-tree name index) — the layout modern tools produce for
    attribute/link-rich granules, used here to fixture the dense-group
    read path without h5py in the container.

    Round 8 catalog-scale knobs (default None keeps the legacy
    single-block/single-leaf output byte-identical):
    ``dense_node_size`` pins the v2 B-tree node size instead of
    growing it to fit one leaf — link counts past the leaf capacity
    then produce MULTI-LEVEL trees (BTIN internal nodes).
    ``dense_heap=(start_block, max_direct, width)`` switches the
    fractal heap to the doubling-table layout: link messages pack
    into many direct blocks under a root indirect block, and rows
    whose block size exceeds ``max_direct`` nest a child indirect
    block (the 'indirect-over-indirect' shape of huge catalogs)."""
    # validate once, before the per-group loop — an invalid value must
    # fail even with an empty groups dict (ADVICE r9)
    if byte_order not in ("little", "big"):
        raise ValueError(f"hdf5lite: byte_order must be little|big, got {byte_order!r}")
    want = ">" if byte_order == "big" else "<"
    # ---- build the group tree ------------------------------------------
    tree: dict = {}  # name -> subtree dict; datasets under key None
    for gpath, dsets in groups.items():
        node = tree
        parts = [p for p in gpath.strip("/").split("/") if p]
        for part in parts:
            node = node.setdefault(part, {})
        own = node.setdefault(None, {})
        for name, arr in dsets.items():
            a = np.ascontiguousarray(arr)
            if a.ndim == 0:
                raise ValueError(f"hdf5lite: write_hdf5 needs array data ({name})")
            # numeric data is stored in the requested byte order (round
            # 9: byte_order='big' emits BE files — interop fixtures for
            # older big-endian-producing tools); strings have no order
            if a.dtype.kind in "iuf" and a.dtype.str != a.dtype.newbyteorder(want).str:
                a = a.astype(a.dtype.newbyteorder(want))
            own[name] = a

    if gzip is not None and chunk_rows is None and chunk_shape is None:
        raise ValueError("hdf5lite: gzip requires chunking (chunk_rows or chunk_shape)")

    alloc = _Alloc()
    writes: list[tuple[int, bytes]] = []
    superblock_addr = alloc.reserve(96)

    def emit(blob: bytes) -> int:
        addr = alloc.reserve(len(blob))
        writes.append((addr, blob))
        return addr

    def write_dataset(name: str, arr: np.ndarray) -> int:
        msgs = [(0x0001, _dataspace_msg(arr.shape)), (0x0003, _datatype_msg(arr.dtype))]
        # rank-mismatched datasets still chunk (at chunk_shape's axis-0
        # extent with full trailing dims) so a requested gzip/shuffle
        # filter is never silently dropped — same axis-0 fallback as
        # write_zarr_local.cshape_of
        chunked = chunk_rows is not None or chunk_shape is not None
        if not chunked:
            data_addr_slot = alloc.reserve(arr.nbytes) if arr.nbytes else UNDEF
            if arr.nbytes:
                writes.append((data_addr_slot, arr.tobytes()))
            layout = struct.pack(
                "<BBQQ", 3, 1, data_addr_slot if arr.nbytes else UNDEF, arr.nbytes
            )
            msgs.append((0x0008, layout))
        else:
            filters: list[tuple[int, tuple[int, ...]]] = []
            if shuffle:
                filters.append((2, (arr.dtype.itemsize,)))
            if gzip is not None:
                filters.append((1, (gzip,)))
            if filters:
                fp = struct.pack("<BB6x", 1, len(filters))
                for fid, vals in filters:
                    fp += struct.pack("<HHHH", fid, 0, 1, len(vals))
                    fp += b"".join(struct.pack("<I", v) for v in vals)
                    if len(vals) % 2:
                        fp += b"\x00" * 4
                msgs.append((0x000B, fp))
            # chunk payloads over an N-D grid (rank-1 degenerates to the
            # old axis-0 walk): chunk_shape when its rank matches, else
            # chunk_rows along axis 0 with full trailing dims
            import itertools

            if chunk_shape is not None and len(chunk_shape) == arr.ndim:
                cshape = tuple(int(c) for c in chunk_shape)
            elif chunk_shape is not None:
                cshape = (int(chunk_shape[0]),) + arr.shape[1:]
            else:
                cshape = (int(chunk_rows),) + arr.shape[1:]
            grid = [range(0, max(arr.shape[ax], 1), cshape[ax]) for ax in range(arr.ndim)]
            chunk_entries = []  # (coords, addr, nbytes)
            for coords in itertools.product(*grid):
                sel = tuple(
                    slice(c0, min(c0 + cs, arr.shape[ax]))
                    for ax, (c0, cs) in enumerate(zip(coords, cshape))
                )
                piece = arr[sel]
                if piece.shape != cshape:  # edge chunk stored full-size
                    full = np.zeros(cshape, dtype=arr.dtype)
                    full[tuple(slice(0, s) for s in piece.shape)] = piece
                    piece = full
                raw = piece.tobytes()
                for fid, vals in filters:
                    if fid == 2:
                        isz = vals[0]
                        raw = (
                            np.frombuffer(raw, dtype=np.uint8)
                            .reshape(len(raw) // isz, isz)
                            .T.tobytes()
                        )
                    elif fid == 1:
                        raw = zlib.compress(raw, vals[0])
                caddr = emit(raw)
                chunk_entries.append((coords, caddr, len(raw)))
            # single-level v1 chunk B-tree (node sized to hold them
            # all); keys are (nbytes, mask, offset per axis, 0) —
            # itertools.product emits row-major ascending order, the
            # sort the spec requires
            rank = arr.ndim

            def key(coords: tuple[int, ...], nb: int) -> bytes:
                return struct.pack(f"<II{rank + 1}Q", nb, 0, *coords, 0)

            node = b"TREE" + struct.pack("<BBHQQ", 1, 0, len(chunk_entries), UNDEF, UNDEF)
            for coords, caddr, nb in chunk_entries:
                node += key(coords, nb) + struct.pack("<Q", caddr)
            end = tuple(
                ((arr.shape[ax] + cshape[ax] - 1) // cshape[ax]) * cshape[ax]
                for ax in range(rank)
            )
            node += key(end, 0)
            btree_addr = emit(node)
            layout = struct.pack("<BBBQ", 3, 2, rank + 1, btree_addr) + struct.pack(
                f"<{rank + 1}I", *cshape, arr.dtype.itemsize
            )
            msgs.append((0x0008, layout))
        return emit(_object_header_v1(msgs))

    def write_group_dense(names: list[str], addr_of: dict[str, int]) -> int:
        """New-style dense group: fractal heap of link messages + v2
        B-tree name index, referenced from a Link Info message."""
        # serialized link messages (v1, hard links, 1-byte name length)
        bodies: dict[str, bytes] = {}
        for nm in names:
            nb = nm.encode("utf-8")
            if len(nb) > 255:
                raise ValueError(f"hdf5lite: link name too long: {nm!r}")
            bodies[nm] = (
                struct.pack("<BBB", 1, 0, len(nb)) + nb + struct.pack("<Q", addr_of[nm])
            )
        offset_size, length_size = 4, 2  # heap bits 32, max managed 4096
        heap_id_len = 1 + offset_size + length_size
        dbl_hdr = 4 + 1 + 8 + offset_size  # FHDB: sig, ver, heap addr, off
        frhp_addr = alloc.reserve(146)
        heap_ids: dict[str, bytes] = {}

        def hid_for(heap_off: int, ln: int) -> bytes:
            return (
                bytes([0])
                + heap_off.to_bytes(offset_size, "little")
                + ln.to_bytes(length_size, "little")
            )

        if dense_heap is None or not names:
            # legacy layout: ONE direct block as the heap root (also
            # the degenerate empty-group case in doubling-table mode)
            need = dbl_hdr + sum(len(b) for b in bodies.values())
            block_size = 512
            while block_size < need:
                block_size *= 2
            dblock_addr = alloc.reserve(block_size)
            payload = bytearray()
            off = dbl_hdr
            for nm in names:
                b = bodies[nm]
                heap_ids[nm] = hid_for(off, len(b))
                payload += b
                off += len(b)
            dblock = (
                b"FHDB"
                + bytes([0])
                + struct.pack("<Q", frhp_addr)
                + (0).to_bytes(offset_size, "little")
                + bytes(payload)
            ).ljust(block_size, b"\x00")
            writes.append((dblock_addr, dblock))
            free_space, man_size, total_alloc = block_size - off, block_size, block_size
            iterator, sbs, md, width = off, block_size, max(65536, block_size), 4
            root_addr, cur_rows = dblock_addr, 0
        else:
            # doubling-table layout (round 8): many direct blocks under
            # a root indirect block; rows past max_direct nest a child
            # indirect block, exactly the structure _parse_fractal_heap
            # descends (spec III.G)
            sbs, md, width = dense_heap
            for v, label in ((sbs, "start_block"), (md, "max_direct"), (width, "width")):
                if v < 1 or v & (v - 1):
                    raise ValueError(f"hdf5lite: dense_heap {label} must be a power of 2")
            if md < sbs * width:
                # smallest indirect row must cover >= one child row
                raise ValueError("hdf5lite: dense_heap needs max_direct >= start_block*width")

            def row_bsize(r: int) -> int:
                return sbs if r <= 1 else sbs << (r - 1)

            def rows_covering(size: int) -> int:
                return (
                    (size.bit_length() - 1)
                    - (sbs.bit_length() - 1)
                    - (width.bit_length() - 1)
                    + 1
                )

            def gen_blocks():
                """Direct blocks in heap-address order, each tagged with
                its ``path`` of (row, entry) slots from the root indirect
                block down.  Rows whose block size exceeds max_direct
                recurse into a child indirect block — at ANY depth
                (round 8: doubly-nested indirect rows, the last writer
                seam), exactly the structure the reader's descend()
                walks."""

                def walk(path, base, nrows):
                    off = base
                    for row in range(nrows):
                        bsize = row_bsize(row)
                        for ent in range(width):
                            if bsize <= md:
                                yield {"path": path + ((row, ent),),
                                       "off": off, "size": bsize}
                            else:
                                yield from walk(path + ((row, ent),), off,
                                                rows_covering(bsize))
                            off += bsize

                off = 0
                row = 0
                while True:  # root rows are unbounded
                    bsize = row_bsize(row)
                    for ent in range(width):
                        if bsize <= md:
                            yield {"path": ((row, ent),), "off": off,
                                   "size": bsize}
                        else:
                            yield from walk(((row, ent),), off,
                                            rows_covering(bsize))
                        off += bsize
                    row += 1

            gi = gen_blocks()
            used: list[dict] = []
            cur: dict | None = None
            for nm in names:
                b = bodies[nm]
                if len(b) > sbs - dbl_hdr:
                    raise ValueError(
                        f"hdf5lite: link message for {nm!r} exceeds the "
                        "dense_heap start block size"
                    )
                while cur is None or cur["free"] < len(b):
                    cur = next(gi)
                    cur["payload"] = bytearray()
                    cur["free"] = cur["size"] - dbl_hdr
                    used.append(cur)
                pos = cur["size"] - cur["free"]
                heap_ids[nm] = hid_for(cur["off"] + pos, len(b))
                cur["payload"] += b
                cur["free"] -= len(b)
            for blk in used:
                blk["addr"] = alloc.reserve(blk["size"])
                fhdb = (
                    b"FHDB"
                    + bytes([0])
                    + struct.pack("<Q", frhp_addr)
                    + blk["off"].to_bytes(offset_size, "little")
                    + bytes(blk["payload"])
                ).ljust(blk["size"], b"\x00")
                writes.append((blk["addr"], fhdb))
            # indirect-block tree, bottom-up: slots[p] maps (row, ent)
            # inside the indirect block at path-prefix p (() = root) to
            # the file address of that entry's block — direct blocks
            # first, then each child indirect block as it is emitted
            slots: dict[tuple, dict[tuple[int, int], int]] = {}
            for blk in used:
                slots.setdefault(blk["path"][:-1], {})[blk["path"][-1]] = blk["addr"]
            internal = {
                blk["path"][:i] for blk in used for i in range(1, len(blk["path"]))
            }

            def entry_off(base: int, row: int, ent: int) -> int:
                off = base
                for r in range(row):
                    off += width * row_bsize(r)
                return off + ent * row_bsize(row)

            def node_base(path: tuple) -> int:
                base = 0
                for row, ent in path:
                    base = entry_off(base, row, ent)
                return base

            for path in sorted(internal, key=len, reverse=True):
                n = rows_covering(row_bsize(path[-1][0]))
                ib = (
                    b"FHIB"
                    + bytes([0])
                    + struct.pack("<Q", frhp_addr)
                    + node_base(path).to_bytes(offset_size, "little")
                )
                ent_map = slots.get(path, {})
                for crow in range(n):
                    for cent in range(width):
                        ib += struct.pack("<Q", ent_map.get((crow, cent), UNDEF))
                ib += struct.pack("<I", _lookup3(ib))
                slots.setdefault(path[:-1], {})[path[-1]] = emit(ib)
            root_slots = slots[()]
            cur_rows = max(r for r, _ in root_slots) + 1
            rib = (
                b"FHIB"
                + bytes([0])
                + struct.pack("<Q", frhp_addr)
                + (0).to_bytes(offset_size, "little")
            )
            for row in range(cur_rows):
                for ent in range(width):
                    rib += struct.pack("<Q", root_slots.get((row, ent), UNDEF))
            rib += struct.pack("<I", _lookup3(rib))
            root_addr = emit(rib)
            free_space = sum(blk["free"] for blk in used)
            man_size = used[-1]["off"] + used[-1]["size"]
            total_alloc = sum(blk["size"] for blk in used)
            iterator = used[-1]["off"] + (used[-1]["size"] - used[-1]["free"])

        hdr = b"FRHP" + bytes([0])
        hdr += struct.pack("<HHB", heap_id_len, 0, 0)  # id len, filters, flags
        hdr += struct.pack("<I", 4096)  # max managed object size
        hdr += struct.pack("<QQ", 0, UNDEF)  # next huge id, huge btree
        hdr += struct.pack("<QQ", free_space, UNDEF)  # free, fs mgr
        hdr += struct.pack("<QQ", man_size, total_alloc)  # managed, alloc
        hdr += struct.pack("<QQ", iterator, len(names))  # iterator, n objects
        hdr += struct.pack("<QQQQ", 0, 0, 0, 0)  # huge/tiny sizes+counts
        hdr += struct.pack("<H", width)  # table width
        hdr += struct.pack("<QQ", sbs, md)  # start block, max direct
        hdr += struct.pack("<HH", 32, 0)  # max heap bits, starting rows
        hdr += struct.pack("<QH", root_addr, cur_rows)
        hdr += struct.pack("<I", _lookup3(hdr))
        assert len(hdr) == 146
        writes.append((frhp_addr, hdr))

        # v2 B-tree name index, records sorted by hash
        rec_size = 4 + heap_id_len
        nrec = len(names)
        recs = [
            struct.pack("<I", h) + hid
            for h, hid in sorted(
                (_lookup3(nm.encode("utf-8")), heap_ids[nm]) for nm in names
            )
        ]
        if dense_node_size is None:
            node_size = 512
            while node_size < 6 + nrec * rec_size + 4:
                node_size *= 2
        else:
            node_size = dense_node_size
        sizes = _v2btree_sizes(node_size, rec_size, 16)
        depth = 0
        while sizes["cum"][depth] < nrec:
            depth += 1
        if depth and dense_node_size is None:
            raise AssertionError("hdf5lite: grown node size cannot need depth")

        def build_sub(rs: list[bytes], d: int) -> tuple[int, int, int]:
            """Bulk-load one subtree of depth ``d`` from the sorted
            record run; returns (node addr, node nrec, subtree total)."""
            if d == 0:
                leaf = b"BTLF" + bytes([0, 5]) + b"".join(rs)
                leaf += struct.pack("<I", _lookup3(leaf))
                return emit(leaf), len(rs), len(rs)
            # C children separated by C-1 promoted records, balanced
            c_count = -(-(len(rs) + 1) // (sizes["cum"][d - 1] + 1))
            c_count = max(c_count, 2)
            n_below = len(rs) - (c_count - 1)
            base_sz, extra = divmod(n_below, c_count)
            children, seps = [], []
            idx = 0
            for i in range(c_count):
                take = base_sz + (1 if i < extra else 0)
                children.append(build_sub(rs[idx : idx + take], d - 1))
                idx += take
                if i < c_count - 1:
                    seps.append(rs[idx])
                    idx += 1
            node = b"BTIN" + bytes([0, 5]) + b"".join(seps)
            for caddr, cnrec, ctotal in children:
                node += struct.pack("<Q", caddr)
                node += cnrec.to_bytes(sizes["max_nrec_size"], "little")
                if d > 1:
                    node += ctotal.to_bytes(sizes["cum_size"][d - 1], "little")
            node += struct.pack("<I", _lookup3(node))
            return emit(node), c_count - 1, len(rs)

        root_node_addr, root_nrec, _total = build_sub(recs, depth)
        bthd = b"BTHD" + bytes([0, 5])
        bthd += struct.pack("<IHH", node_size, rec_size, depth)
        bthd += bytes([100, 40])  # split / merge percent
        bthd += struct.pack("<QHQ", root_node_addr, root_nrec, nrec)
        bthd += struct.pack("<I", _lookup3(bthd))
        bthd_addr = emit(bthd)
        linkinfo = struct.pack("<BBQQ", 0, 0, frhp_addr, bthd_addr)
        return emit(
            _object_header_v1([(0x0002, linkinfo), (0x000A, b"\x00\x00")])
        )

    def write_group(node: dict) -> int:
        """Returns object header address of the group."""
        own: dict[str, np.ndarray] = node.get(None, {})
        children = {k: v for k, v in node.items() if k is not None}
        names = sorted(set(own) | set(children))
        # children first (their header addresses go into our SNOD)
        addr_of: dict[str, int] = {}
        for nm in names:
            if nm in children:
                addr_of[nm] = write_group(children[nm])
            else:
                addr_of[nm] = write_dataset(nm, own[nm])
        if dense_groups:
            return write_group_dense(names, addr_of)
        # local heap: 8 reserved zero bytes (offset 0 = ""), then names
        heap = bytearray(b"\x00" * 8)
        name_off = {}
        for nm in names:
            name_off[nm] = len(heap)
            heap += _pad8(nm.encode("utf-8") + b"\x00")
        heap_data_addr = emit(bytes(heap))
        heap_hdr = b"HEAP" + struct.pack(
            "<B3xQQQ", 0, len(heap), UNDEF, heap_data_addr
        )
        heap_addr = emit(heap_hdr)
        # SNOD with every entry (superblock K sized to allow it)
        snod = b"SNOD" + struct.pack("<BBH", 1, 0, len(names))
        for nm in names:
            snod += struct.pack("<QQII16x", name_off[nm], addr_of[nm], 0, 0)
        snod_addr = emit(snod)
        last_off = name_off[names[-1]] if names else 0
        btree = (
            b"TREE"
            + struct.pack("<BBHQQ", 0, 0, 1, UNDEF, UNDEF)
            + struct.pack("<QQQ", 0, snod_addr, last_off)
        )
        btree_addr = emit(btree)
        stab = struct.pack("<QQ", btree_addr, heap_addr)
        return emit(_object_header_v1([(0x0011, stab)]))

    root_addr = write_group(tree)
    eof = (alloc.pos + 7) & ~7
    # superblock v0; leaf K sized generously so one SNOD per group is legal
    max_fanout = max(
        (len(set(n.get(None, {})) | {k for k in n if k is not None}) for n in _walk(tree)),
        default=1,
    )
    leaf_k = max(4, (max_fanout + 1) // 2)
    sb = SIGNATURE + struct.pack(
        "<BBBBBBBBHHI", 0, 0, 0, 0, 0, 8, 8, 0, leaf_k, 16, 0
    )
    sb += struct.pack("<QQQQ", 0, UNDEF, eof, UNDEF)
    sb += struct.pack("<QQII16x", 0, root_addr, 0, 0)
    assert len(sb) == 96

    with open(path, "wb") as fh:
        fh.write(b"\x00" * eof)
        fh.seek(0)
        fh.write(sb)
        for addr, blob in writes:
            fh.seek(addr)
            fh.write(blob)


def _walk(node: dict):
    yield node
    for k, v in node.items():
        if k is not None:
            yield from _walk(v)
