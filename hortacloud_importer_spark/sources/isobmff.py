"""Clean-room ISO Base Media File Format box parser (ISO/IEC
14496-12) — the container behind MP4/MOV video and HEIF/HEIC/AVIF
images, which dominate modern crawls alongside JPEG/WebP.

Metadata-first by design: the probe walks the box tree and reads the
spatial-extents / track-header metadata a crawl pipeline needs to
schedule work (`media_probe`'s schema-scan-then-decode-selectively
posture), and ``isobmff_frame_index`` enumerates per-sample byte
ranges + timestamps from the sample tables (stbl) and movie
fragments (moof) so frames can be range-read without shipping mdat.
Pixel decode: MJPEG-coded video tracks decode CLEAN-ROOM (every
sample is a complete T.81 stream -> sources/jpeg.py); HEIF-family
images decode through the optional system libheif binding
(sources/heif.py); hvc1/hev1/av01 video tracks route their SYNC
samples through that same binding (decode_isobmff_video: each
keyframe rewrapped byte-identical as a HEIF/AVIF still — MP4 samples
and HEIF items share the coded layout); other codecs (AAC audio,
AVC) stay a gated NotImplementedError — shipping a wrong decode
would be worse than an honest gate.

What the probe extracts:
- HEIF/HEIC/AVIF (`ftyp` brands mif1/heic/heix/avif/avis):
  `meta/iprp/ipco/ispe` image spatial extents; the PRIMARY item is
  resolved via `pitm` + `ipma` when present, else the largest extent
  (thumbnails are smaller by construction).
- MP4/MOV (`isom`/`mp4*`/`qt  ` and friends): per-track `tkhd` pixel
  dimensions (16.16 fixed point), `mdhd` timescale, `stsz`/`stts`
  sample counts — video dims + frame count, audio sample rate.

Bomb-guarded like every other codec here: declared box sizes are
checked against the payload, recursion depth and box counts are
capped, and every malformed structure raises
:class:`IsobmffParseError` (the one named error crawl kernels catch).

Reference parity: the reference repo has no ISOBMFF path (its corpora
are TIFF stacks); this extends the K4 multimodal surface the same way
webp/gif/avi did.
"""

from __future__ import annotations

import struct

__all__ = [
    "IsobmffParseError",
    "isobmff_probe",
    "isobmff_boxes",
    "decode_isobmff",
]

_MAX_BOXES = 100_000
_MAX_DEPTH = 16

# containers we recurse into (plain concatenations of child boxes)
_CONTAINERS = {
    b"moov", b"trak", b"mdia", b"minf", b"stbl", b"iprp", b"ipco",
    b"edts", b"mvex", b"moof", b"traf",
}
# full-box containers: 4 bytes of version/flags precede the children
_FULLBOX_CONTAINERS = {b"meta"}

_HEIF_BRANDS = {
    b"mif1", b"msf1", b"heic", b"heix", b"hevc", b"heim", b"heis",
    b"avif", b"avis",
}


class IsobmffParseError(ValueError):
    """Malformed or truncated ISOBMFF container."""


def _walk(data: bytes, start: int, end: int, depth: int, out: list,
          path: tuple):
    if depth > _MAX_DEPTH:
        raise IsobmffParseError("box nesting exceeds the depth cap")
    pos = start
    while pos < end:
        if pos + 8 > end:
            raise IsobmffParseError(f"truncated box header at {pos}")
        (size,) = struct.unpack(">I", data[pos : pos + 4])
        btype = data[pos + 4 : pos + 8]
        hdr = 8
        if size == 1:  # 64-bit largesize
            if pos + 16 > end:
                raise IsobmffParseError(f"truncated largesize at {pos}")
            (size,) = struct.unpack(">Q", data[pos + 8 : pos + 16])
            hdr = 16
        elif size == 0:  # box runs to end of enclosing scope
            size = end - pos
        if size < hdr or pos + size > end:
            raise IsobmffParseError(
                f"box {btype!r} at {pos} declares {size} bytes, "
                f"scope has {end - pos}"
            )
        out.append((path + (btype,), pos + hdr, pos + size))
        if len(out) > _MAX_BOXES:
            raise IsobmffParseError("box count exceeds the cap")
        if btype in _CONTAINERS:
            _walk(data, pos + hdr, pos + size, depth + 1, out,
                  path + (btype,))
        elif btype in _FULLBOX_CONTAINERS:
            if size < hdr + 4:
                raise IsobmffParseError(f"full box {btype!r} too short")
            _walk(data, pos + hdr + 4, pos + size, depth + 1, out,
                  path + (btype,))
        pos += size


def isobmff_boxes(data: bytes) -> list[tuple[tuple, int, int]]:
    """-> [(path, body_start, body_end)] for every box, depth-first.
    ``path`` is the tuple of 4CCs from the root down to the box."""
    if len(data) < 8:
        raise IsobmffParseError("shorter than one box header")
    out: list = []
    _walk(data, 0, len(data), 0, out, ())
    return out


def _u(data: bytes, off: int, n: int) -> int:
    if off + n > len(data):
        raise IsobmffParseError("field overruns its box")
    return int.from_bytes(data[off : off + n], "big")


def _heif_dims(data: bytes, boxes) -> tuple[int, int]:
    """Primary-item width/height: resolve pitm -> ipma to the first
    associated property that IS an ispe; else the largest ispe.
    Association indices are 1-based over ALL ipco children, so
    non-ispe properties (hvcC/av1C/colr — typically listed before the
    ispe in real HEIC/AVIF) must be counted when mapping them."""
    children: list = []  # (type_4cc, (w, h) | None), in ipco order
    for path, a, b in boxes:
        if len(path) >= 2 and path[-2] == b"ipco":
            if path[-1] == b"ispe":
                if b - a < 12:
                    raise IsobmffParseError("ispe too short")
                children.append(
                    (b"ispe", (_u(data, a + 4, 4), _u(data, a + 8, 4)))
                )
            else:
                children.append((path[-1], None))
    ispes = [dims for t, dims in children if t == b"ispe"]
    if not ispes:
        raise IsobmffParseError("no ispe (image spatial extents) box")
    try:
        pitm = next(
            (a, b) for path, a, b in boxes if path[-1] == b"pitm"
        )
        ver = _u(data, pitm[0], 1)
        item_id = _u(
            data, pitm[0] + 4, 2 if ver == 0 else 4
        )
        ipma = next(
            (a, b) for path, a, b in boxes if path[-1] == b"ipma"
        )
        for idx in _ipma_assocs(data, ipma, item_id):
            if idx < len(children) and children[idx][0] == b"ispe":
                return children[idx][1]
    except (StopIteration, IsobmffParseError):
        pass
    return max(ispes, key=lambda wh: wh[0] * wh[1])


def _ipma_assocs(data, ipma, item_id) -> list:
    """0-based ipco indices of every property associated with
    ``item_id``, in association order (essential bit stripped).
    Empty when the item has no entry."""
    a, b = ipma
    ver = _u(data, a, 1)
    flags = _u(data, a + 1, 3)
    pos = a + 4
    count = _u(data, pos, 4)
    pos += 4
    for _ in range(count):
        iid = _u(data, pos, 2 if ver < 1 else 4)
        pos += 2 if ver < 1 else 4
        assoc_n = _u(data, pos, 1)
        pos += 1
        idxs = []
        for _ in range(assoc_n):
            if flags & 1:
                idx = _u(data, pos, 2) & 0x7FFF
                pos += 2
            else:
                idx = _u(data, pos, 1) & 0x7F
                pos += 1
            if idx > 0:
                idxs.append(idx - 1)  # 1-based in the file
        if iid == item_id:
            return idxs
    return []


def isobmff_probe(data: bytes) -> tuple[str, int, int, int, int, int]:
    """-> (kind, height, width, channels, n_frames, sample_rate)
    without touching any coded payload. ``kind`` is 'image' for
    HEIF-family brands, 'video' when a sized video track exists,
    else 'audio'."""
    try:
        boxes = isobmff_boxes(data)
    except RecursionError as exc:  # pathological nesting
        raise IsobmffParseError(f"box recursion: {exc}") from exc
    if not boxes or boxes[0][0][-1] != b"ftyp":
        raise IsobmffParseError("first box is not ftyp")
    a, b = boxes[0][1], boxes[0][2]
    if b - a < 8:
        raise IsobmffParseError("ftyp too short")
    brands = {data[a : a + 4]} | {
        data[i : i + 4] for i in range(a + 8, b - 3, 4)
    }

    if brands & _HEIF_BRANDS:
        w, h = _heif_dims(data, boxes)
        if not (0 < w <= 1 << 20 and 0 < h <= 1 << 20):
            raise IsobmffParseError(f"ispe extents {w}x{h} out of range")
        return "image", h, w, 3, 1, 0

    # MP4/MOV: scan tracks for video dims + frame count, audio rate
    h = w = 0
    n_frames = 0
    rate = 0
    cur_dims = None
    for path, a, b in boxes:
        leaf = path[-1]
        if leaf == b"tkhd":
            ver = _u(data, a, 1)
            base = a + 4 + (32 if ver == 1 else 20)
            # reserved(8) layer(2) alternate_group(2) volume(2)
            # reserved(2) matrix(36) then width/height as 16.16
            wh = base + 8 + 8 + 36
            tw = _u(data, wh, 4) >> 16
            th = _u(data, wh + 4, 4) >> 16
            cur_dims = (tw, th)
            if tw and th and tw * th > w * h:
                w, h = tw, th
        elif leaf == b"mdhd":
            ver = _u(data, a, 1)
            ts_off = a + 4 + (16 if ver == 1 else 8)
            ts = _u(data, ts_off, 4)
            if cur_dims in (None, (0, 0)) and rate == 0 and ts:
                rate = ts  # audio track: timescale = sample rate
        elif leaf == b"stsz":
            cnt = _u(data, a + 8, 4)
            if cur_dims and cur_dims != (0, 0):
                n_frames = max(n_frames, cnt)
        elif leaf == b"stts" and n_frames == 0:
            entries = _u(data, a + 4, 4)
            total = 0
            pos = a + 8
            for _ in range(min(entries, 10_000)):
                total += _u(data, pos, 4)
                pos += 8
            if cur_dims and cur_dims != (0, 0):
                n_frames = max(n_frames, total)
    if w and h:
        return "video", h, w, 3, max(n_frames, 1), rate
    if rate:
        return "audio", 0, 0, 1, max(n_frames, 1), rate
    raise IsobmffParseError("no sized video track, audio track, or ispe")


def decode_isobmff(data: bytes):
    """Pixel/sample decode is a codec-binding problem (HEVC, AV1,
    AAC). HEIF-family images route through the optional system
    libheif binding (sources/heif.py — de265/dav1d, the jp2-style
    fallback chain); video/audio payloads and bindingless
    environments raise the honest gate."""
    kind, h, w, *_ = isobmff_probe(data)
    if kind == "image":
        from hortacloud_importer_spark.sources.heif import decode_heif

        try:
            return decode_heif(data)[None]
        except NotImplementedError:
            pass  # no binding: fall through to the named gate
    elif kind == "video":
        try:
            return decode_isobmff_mjpeg(data)  # clean-room, no binding
        except NotImplementedError:
            try:
                # hvc1/hev1/av01 sync samples through libheif
                return decode_isobmff_video(data)
            except NotImplementedError:
                pass  # no such track / no binding: the named gate
    raise NotImplementedError(
        f"ISOBMFF {kind} payload ({w}x{h}): coded-stream decode needs "
        "a codec binding (HEVC/AV1/AAC) — header metadata is available "
        "via isobmff_probe/media_probe"
    )


# ------------------------------------------------- sample-table index

_MAX_INDEX_SAMPLES = 1 << 22


def isobmff_frame_index(data: bytes) -> list:
    """Enumerate every sample (frame) of every track WITHOUT touching
    coded payloads: -> [(track_id, sample_idx, byte_offset, byte_size,
    dts, duration, timescale, is_sync)], unfragmented tracks first
    (stsd/stts/stsc/stco|co64/stsz/stss), then movie fragments
    (moof: tfhd/tfdt/trun) in file order.

    This is the crawl pipeline's video analog of chunk pruning: with
    per-frame byte ranges + timestamps a scheduler can range-read
    every k-th keyframe from object storage without shipping the
    mdat, exactly how the windowed-region reader prunes chunks
    (sources/datasource.py pushFilters). Decode stays codec-gated."""
    boxes = isobmff_boxes(data)
    out: list = []
    timescales: dict = {}
    next_dts: dict = {}
    next_idx: dict = {}

    # mvex/trex: fragment-wide defaults (ISO 14496-12 8.8.3) — the
    # fallback when a tfhd carries no per-fragment default
    trex_defaults: dict = {}
    for path, a, b in boxes:
        if path[-1] == b"trex":
            if b - a < 24:
                raise IsobmffParseError("trex box truncated")
            trex_defaults[_u(data, a + 4, 4)] = (
                _u(data, a + 12, 4),  # default_sample_duration
                _u(data, a + 16, 4),  # default_sample_size
                _u(data, a + 20, 4),  # default_sample_flags
            )

    traks = [(a, b) for path, a, b in boxes if path[-1] == b"trak"]
    for ta, tb in traks:
        sub = [(p, a, b) for p, a, b in boxes if ta <= a and b <= tb]

        def _find(leaf, sub=sub):
            return next(
                ((a, b) for p, a, b in sub if p[-1] == leaf), None
            )

        tkhd = _find(b"tkhd")
        mdhd = _find(b"mdhd")
        if tkhd is None or mdhd is None:
            raise IsobmffParseError("trak without tkhd/mdhd")
        ver = _u(data, tkhd[0], 1)
        track_id = _u(data, tkhd[0] + (4 + 16 if ver else 4 + 8), 4)
        mver = _u(data, mdhd[0], 1)
        timescale = _u(data, mdhd[0] + (4 + 16 if mver else 4 + 8), 4)
        if timescale == 0:
            raise IsobmffParseError("mdhd timescale is zero")
        timescales[track_id] = timescale
        next_dts[track_id] = 0
        next_idx[track_id] = 0

        stsz = _find(b"stsz")
        stts = _find(b"stts")
        stsc = _find(b"stsc")
        stco = _find(b"stco")
        co64 = _find(b"co64")
        if stsz is None or stts is None or stsc is None or (
            stco is None and co64 is None
        ):
            continue  # metadata-only track (no sample table)

        # stsz: uniform size or per-sample table
        a, b = stsz
        uniform = _u(data, a + 4, 4)
        n = _u(data, a + 8, 4)
        if n > _MAX_INDEX_SAMPLES:
            raise IsobmffParseError("stsz sample count exceeds the cap")
        if uniform:
            sizes = [uniform] * n
        else:
            if b - a < 12 + 4 * n:
                raise IsobmffParseError("stsz table truncated")
            sizes = [_u(data, a + 12 + 4 * i, 4) for i in range(n)]

        # stts: (count, delta) runs -> per-sample durations
        a, b = stts
        n_ent = _u(data, a + 4, 4)
        if b - a < 8 + 8 * n_ent:
            raise IsobmffParseError("stts table truncated")
        durations: list = []
        for i in range(n_ent):
            cnt = _u(data, a + 8 + 8 * i, 4)
            delta = _u(data, a + 12 + 8 * i, 4)
            if len(durations) + cnt > n:
                raise IsobmffParseError("stts covers more samples than stsz")
            durations.extend([delta] * cnt)
        if len(durations) != n:
            raise IsobmffParseError(
                f"stts covers {len(durations)} samples, stsz has {n}"
            )

        # chunk offsets
        if stco is not None:
            a, b = stco
            n_chunks = _u(data, a + 4, 4)
            if b - a < 8 + 4 * n_chunks:
                raise IsobmffParseError("stco table truncated")
            chunk_offs = [_u(data, a + 8 + 4 * i, 4) for i in range(n_chunks)]
        else:
            a, b = co64
            n_chunks = _u(data, a + 4, 4)
            if b - a < 8 + 8 * n_chunks:
                raise IsobmffParseError("co64 table truncated")
            chunk_offs = [_u(data, a + 8 + 8 * i, 8) for i in range(n_chunks)]

        # stsc: (first_chunk, samples_per_chunk, desc) runs
        a, b = stsc
        n_ent = _u(data, a + 4, 4)
        if b - a < 8 + 12 * n_ent:
            raise IsobmffParseError("stsc table truncated")
        runs = []
        for i in range(n_ent):
            first = _u(data, a + 8 + 12 * i, 4)
            per = _u(data, a + 12 + 12 * i, 4)
            if first < 1 or per < 1:
                raise IsobmffParseError("stsc run out of range")
            runs.append((first, per))
        if not runs or runs[0][0] != 1:
            raise IsobmffParseError("stsc does not start at chunk 1")

        # stss: sync table (absent -> every sample is sync)
        stss = _find(b"stss")
        sync: set | None = None
        if stss is not None:
            a, b = stss
            n_ent = _u(data, a + 4, 4)
            if b - a < 8 + 4 * n_ent:
                raise IsobmffParseError("stss table truncated")
            sync = {
                _u(data, a + 8 + 4 * i, 4) for i in range(n_ent)
            }

        dts = 0
        si = 0
        for ci in range(n_chunks):
            per = next(
                runs[ri][1]
                for ri in range(len(runs) - 1, -1, -1)
                if runs[ri][0] <= ci + 1
            )
            off = chunk_offs[ci]
            for _ in range(per):
                if si >= n:
                    break
                if off + sizes[si] > len(data):
                    raise IsobmffParseError(
                        f"sample {si} overruns the payload"
                    )
                out.append(
                    (
                        track_id, si, off, sizes[si], dts,
                        durations[si], timescale,
                        sync is None or (si + 1) in sync,
                    )
                )
                off += sizes[si]
                dts += durations[si]
                si += 1
        if si != n:
            raise IsobmffParseError(
                f"chunk map places {si} of {n} samples"
            )
        next_dts[track_id] = dts
        next_idx[track_id] = n

    # ---- movie fragments: moof header starts from a top-level scan
    moof_starts = []
    pos = 0
    while pos + 8 <= len(data):
        (size,) = struct.unpack(">I", data[pos : pos + 4])
        btype = data[pos + 4 : pos + 8]
        if size == 1:
            size = _u(data, pos + 8, 8)
        elif size == 0:
            size = len(data) - pos
        if btype == b"moof":
            moof_starts.append((pos, pos + size))
        pos += size

    for ms, me in moof_starts:
        trafs = [
            (a, b)
            for path, a, b in boxes
            if path[-1] == b"traf" and ms <= a and b <= me
        ]
        for fa, fb in trafs:
            fsub = [(p, a, b) for p, a, b in boxes if fa <= a and b <= fb]
            tfhd = next(
                ((a, b) for p, a, b in fsub if p[-1] == b"tfhd"), None
            )
            if tfhd is None:
                raise IsobmffParseError("traf without tfhd")
            a, _ = tfhd
            flags = _u(data, a + 1, 3)
            track_id = _u(data, a + 4, 4)
            p = a + 8
            base = ms
            if flags & 0x000001:
                base = _u(data, p, 8)
                p += 8
            if flags & 0x000002:
                p += 4
            tdef = trex_defaults.get(track_id)
            def_dur, def_size, def_flags = tdef if tdef else (
                None, None, None
            )
            if flags & 0x000008:
                def_dur = _u(data, p, 4)
                p += 4
            if flags & 0x000010:
                def_size = _u(data, p, 4)
                p += 4
            if flags & 0x000020:  # default-sample-flags-present
                def_flags = _u(data, p, 4)
                p += 4
            timescale = timescales.get(track_id)
            if timescale is None:
                raise IsobmffParseError(
                    f"fragment for unknown track {track_id}"
                )
            dts = next_dts.get(track_id, 0)
            tfdt = next(
                ((a, b) for p2, a, b in fsub if p2[-1] == b"tfdt"), None
            )
            if tfdt is not None:
                tver = _u(data, tfdt[0], 1)
                dts = _u(data, tfdt[0] + 4, 8 if tver else 4)
            si = next_idx.get(track_id, 0)
            off = base  # truns without data-offset-present continue
            # after the prior trun's samples (8.8.8.2), not at base
            for p2, a2, b2 in fsub:
                if p2[-1] != b"trun":
                    continue
                tflags = _u(data, a2 + 1, 3)
                cnt = _u(data, a2 + 4, 4)
                if cnt > _MAX_INDEX_SAMPLES:
                    raise IsobmffParseError("trun count exceeds the cap")
                q = a2 + 8
                if tflags & 0x000001:
                    doff = _u(data, q, 4)
                    if doff >> 31:
                        doff -= 1 << 32
                    off = base + doff
                    q += 4
                first_flags = None
                if tflags & 0x000004:
                    first_flags = _u(data, q, 4)
                    q += 4
                for k in range(cnt):
                    dur = def_dur
                    if tflags & 0x000100:
                        dur = _u(data, q, 4)
                        q += 4
                    sz = def_size
                    if tflags & 0x000200:
                        sz = _u(data, q, 4)
                        q += 4
                    sflags = None
                    if tflags & 0x000400:
                        sflags = _u(data, q, 4)
                        q += 4
                    if tflags & 0x000800:
                        q += 4  # composition offset: not indexed
                    if k == 0 and first_flags is not None:
                        sflags = first_flags
                    elif sflags is None:
                        sflags = def_flags  # tfhd, else trex default
                    if dur is None or sz is None:
                        raise IsobmffParseError(
                            "trun sample lacks duration/size and no "
                            "tfhd default applies"
                        )
                    if off + sz > len(data):
                        raise IsobmffParseError(
                            f"fragment sample {si} overruns the payload"
                        )
                    is_sync = (
                        not (sflags & 0x00010000) if sflags is not None
                        else True
                    )
                    out.append(
                        (track_id, si, off, sz, dts, dur, timescale,
                         is_sync)
                    )
                    off += sz
                    dts += dur
                    si += 1
                    if len(out) > _MAX_INDEX_SAMPLES:
                        raise IsobmffParseError(
                            "total sample count exceeds the cap"
                        )
            next_dts[track_id] = dts
            next_idx[track_id] = si
    if not out:
        raise IsobmffParseError("no sample tables or fragments")
    return out


def isobmff_track_codecs(data: bytes) -> dict:
    """track_id -> sample-entry 4CC (the stsd codec tag, e.g. b'avc1',
    b'hvc1', b'jpeg', b'mp4a') — header walk only."""
    boxes = isobmff_boxes(data)
    out: dict = {}
    for path, ta, tb in boxes:
        if path[-1] != b"trak":
            continue
        sub = [(p, a, b) for p, a, b in boxes if ta <= a and b <= tb]
        tkhd = next(((a, b) for p, a, b in sub if p[-1] == b"tkhd"), None)
        stsd = next(((a, b) for p, a, b in sub if p[-1] == b"stsd"), None)
        if tkhd is None or stsd is None:
            continue
        ver = _u(data, tkhd[0], 1)
        track_id = _u(data, tkhd[0] + (4 + 16 if ver else 4 + 8), 4)
        a, b = stsd
        if b - a < 16:
            raise IsobmffParseError("stsd too short")
        n = _u(data, a + 4, 4)
        if n < 1:
            continue
        entry_size = _u(data, a + 8, 4)
        if entry_size < 8 or a + 8 + entry_size > b:
            raise IsobmffParseError("stsd entry overruns its box")
        out[track_id] = data[a + 12 : a + 16]
    return out


_MJPEG_TAGS = {b"jpeg", b"mjpa", b"mjpb", b"mjpg", b"MJPG"}


def decode_isobmff_mjpeg(data: bytes) -> "object":
    """MJPEG-in-MP4/MOV -> (n_frames, h, w, c) uint8: every sample of
    the first JPEG-coded video track is a complete T.81 stream, so
    the sample-table frame index + the clean-room JPEG decoder give
    REAL video pixel decode with no external binding — the same
    composition the AVI path uses (sources/avi.py), on the modern
    container. Non-JPEG tracks raise NotImplementedError (the codec
    gate); structural problems raise IsobmffParseError."""
    import numpy as np

    from hortacloud_importer_spark.sources.jpeg import decode_jpeg

    codecs = isobmff_track_codecs(data)
    track = next(
        (tid for tid, cc in codecs.items() if cc in _MJPEG_TAGS), None
    )
    if track is None:
        raise NotImplementedError(
            f"no MJPEG video track (codecs: "
            f"{sorted(cc.decode('latin1') for cc in codecs.values())})"
        )
    idx = [r for r in isobmff_frame_index(data) if r[0] == track]
    if not idx:
        raise IsobmffParseError("MJPEG track has no samples")
    frames = []
    shape = None
    total = 0
    for (_tid, _si, off, sz, _dts, _dur, _ts, _sync) in idx:
        arr = decode_jpeg(data[off : off + sz])
        if shape is None:
            shape = arr.shape
        elif arr.shape != shape:
            raise IsobmffParseError(
                f"frame size changes mid-track: {arr.shape} vs {shape}"
            )
        total += arr.size
        if total > 1 << 28:
            # whole-video decode guard (same 2^28-sample posture as
            # the image codecs): longer videos should range-read
            # selected frames via isobmff_frame_index instead of
            # materializing every frame in one executor task
            raise IsobmffParseError(
                f"{len(idx)} frames of {shape} exceed the full-decode "
                "guard; use the frame index to range-read a subset"
            )
        frames.append(arr)
    return np.stack(frames)


# ------------------------------------ HEVC/AV1 video-track sample decode
#
# MP4 video samples and HEIF still items share the exact same coded
# layout: length-prefixed HEVC NAL units under an hvcC config, raw AV1
# OBUs under an av1C config. So each SYNC sample (IDR/keyframe — the
# only samples that decode standalone) of an hvc1/hev1/av01 track can
# be rewrapped, byte-identical, as a minimal HEIF/AVIF still and
# routed through the SAME libheif binding that decodes HEIC/AVIF
# images (sources/heif.py, de265/dav1d). Binding absent -> the honest
# NotImplementedError gate decode_isobmff always raised.

_VIDEO_CONFIG_TAGS = {
    b"hvc1": (b"hvcC", b"heic"),
    b"hev1": (b"hvcC", b"heic"),
    b"av01": (b"av1C", b"avif"),
}


def isobmff_video_configs(data: bytes) -> dict:
    """track_id -> (sample-entry 4CC, width, height, raw decoder
    config box bytes) for every hvc1/hev1/av01 video track — stsd
    VisualSampleEntry walk only, no payload reads."""
    boxes = isobmff_boxes(data)
    out: dict = {}
    for path, ta, tb in boxes:
        if path[-1] != b"trak":
            continue
        sub = [(p, a, b) for p, a, b in boxes if ta <= a and b <= tb]
        tkhd = next(((a, b) for p, a, b in sub if p[-1] == b"tkhd"), None)
        stsd = next(((a, b) for p, a, b in sub if p[-1] == b"stsd"), None)
        if tkhd is None or stsd is None:
            continue
        ver = _u(data, tkhd[0], 1)
        track_id = _u(data, tkhd[0] + (4 + 16 if ver else 4 + 8), 4)
        a, b = stsd
        if b - a < 16 or _u(data, a + 4, 4) < 1:
            continue
        entry_size = _u(data, a + 8, 4)
        fourcc = data[a + 12 : a + 16]
        if fourcc not in _VIDEO_CONFIG_TAGS:
            continue
        e0 = a + 8
        if entry_size < 86 + 8 or e0 + entry_size > b:
            raise IsobmffParseError("visual sample entry truncated")
        w = _u(data, a + 40, 2)
        h = _u(data, a + 42, 2)
        cfg_tag = _VIDEO_CONFIG_TAGS[fourcc][0]
        pos = e0 + 86  # past the fixed VisualSampleEntry fields
        cfg = None
        while pos + 8 <= e0 + entry_size:
            csize = _u(data, pos, 4)
            if csize < 8 or pos + csize > e0 + entry_size:
                raise IsobmffParseError("sample-entry child overruns")
            if data[pos + 4 : pos + 8] == cfg_tag:
                cfg = data[pos : pos + csize]
                break
            pos += csize
        if cfg is None:
            raise IsobmffParseError(
                f"{fourcc.decode('latin1')} entry lacks its "
                f"{cfg_tag.decode('latin1')} config box"
            )
        out[track_id] = (fourcc, w, h, cfg)
    return out


def wrap_sample_as_heif(
    config_box: bytes, item_type: bytes, brand: bytes,
    w: int, h: int, sample: bytes,
) -> bytes:
    """One coded video sample + its decoder config -> a minimal
    HEIF/AVIF still container libheif decodes: ftyp + meta
    (hdlr pict / pitm / iloc / iinf / iprp with the config box and an
    ispe) + mdat. The sample bytes are copied verbatim — MP4 samples
    and HEIF items share the coded layout."""

    def _box(t: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + t + payload

    def _full(t: bytes, payload: bytes, ver: int = 0) -> bytes:
        return _box(t, bytes([ver, 0, 0, 0]) + payload)

    ftyp = _box(b"ftyp", brand + b"\x00\x00\x00\x00" + b"mif1" + brand)
    hdlr = _full(
        b"hdlr", b"\x00" * 4 + b"pict" + b"\x00" * 12 + b"\x00"
    )
    pitm = _full(b"pitm", struct.pack(">H", 1))
    iinf = _full(
        b"iinf",
        struct.pack(">H", 1)
        + _full(
            b"infe",
            struct.pack(">HH", 1, 0) + item_type + b"\x00",
            ver=2,
        ),
    )
    ispe = _full(b"ispe", struct.pack(">II", w, h))
    ipco = _box(b"ipco", config_box + ispe)
    ipma = _full(
        b"ipma",
        struct.pack(">I", 1) + struct.pack(">HB", 1, 2)
        + bytes([0x81, 0x02]),  # config essential, ispe plain
    )
    iprp = _box(b"iprp", ipco + ipma)

    def _iloc(offset: int) -> bytes:
        return _full(
            b"iloc",
            bytes([0x44, 0x00])  # offset_size 4, length_size 4
            + struct.pack(">HHHH", 1, 1, 0, 1)  # count, id, dri, extents
            + struct.pack(">II", offset, len(sample)),
        )

    # iloc is fixed-size, so assemble once with 0 to learn the layout
    meta0 = _full(b"meta", hdlr + pitm + _iloc(0) + iinf + iprp)
    offset = len(ftyp) + len(meta0) + 8  # into the mdat body
    meta = _full(b"meta", hdlr + pitm + _iloc(offset) + iinf + iprp)
    return ftyp + meta + _box(b"mdat", sample)


def build_video_mp4(
    fourcc: bytes, config_box: bytes, w: int, h: int,
    samples: list, timescale: int = 30000, duration: int = 1001,
    track_id: int = 1,
) -> bytes:
    """Fixture builder: coded samples (each an independently decodable
    keyframe) + their decoder config -> an unfragmented MP4 with one
    hvc1/hev1/av01 video track (stsd VisualSampleEntry + stts/stsc/
    stsz/stco; no stss, so every sample reports sync)."""
    if fourcc not in _VIDEO_CONFIG_TAGS:
        raise IsobmffParseError(f"unsupported video fourcc {fourcc!r}")

    def _box(t: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + t + payload

    def _full(t: bytes, payload: bytes, ver: int = 0) -> bytes:
        return _box(t, bytes([ver, 0, 0, 0]) + payload)

    entry_body = (
        b"\x00" * 6 + struct.pack(">H", 1)  # SampleEntry: dri 1
        + b"\x00" * 16  # pre_defined / reserved
        + struct.pack(">HH", w, h)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + b"\x00" * 4
        + struct.pack(">H", 1)  # frame_count
        + b"\x00" * 32  # compressorname
        + struct.pack(">Hh", 24, -1)  # depth, pre_defined
        + config_box
    )
    stsd = _full(b"stsd", struct.pack(">I", 1) + _box(fourcc, entry_body))
    n = len(samples)
    stts = _full(b"stts", struct.pack(">III", 1, n, duration))
    stsc = _full(b"stsc", struct.pack(">IIII", 1, 1, n, 1))
    stsz = _full(
        b"stsz",
        struct.pack(">II", 0, n)
        + b"".join(struct.pack(">I", len(s)) for s in samples),
    )

    def _stco(off: int) -> bytes:
        return _full(b"stco", struct.pack(">II", 1, off))

    def _moov(off: int) -> bytes:
        stbl = _box(b"stbl", stsd + stts + stsc + stsz + _stco(off))
        mdhd = _full(
            b"mdhd",
            struct.pack(">IIII", 0, 0, timescale, n * duration)
            + b"\x00" * 4,
        )
        hdlr = _full(
            b"hdlr", b"\x00" * 4 + b"vide" + b"\x00" * 12 + b"\x00"
        )
        mdia = _box(b"mdia", mdhd + hdlr + _box(b"minf", stbl))
        tkhd = _full(
            b"tkhd",
            struct.pack(">III", 0, 0, track_id) + b"\x00" * 60
            + struct.pack(">II", w << 16, h << 16),
        )
        return _box(b"moov", _box(b"trak", tkhd + mdia))

    ftyp = _box(b"ftyp", b"isom\x00\x00\x00\x00mp42")
    off0 = len(ftyp) + len(_moov(0)) + 8
    return ftyp + _moov(off0) + _box(b"mdat", b"".join(samples))


def decode_isobmff_video(data: bytes):
    """hvc1/hev1/av01 video track -> (n_sync_frames, h, w, c) uint8:
    every SYNC sample of the first HEVC/AV1 track is rewrapped as a
    HEIF/AVIF still (wrap_sample_as_heif) and decoded through the
    libheif binding — the video analog of the HEIC image path, with
    the MJPEG composition's shape/guard contract. Non-sync samples
    reference prior frames and are skipped (range-read schedulers
    sample sync frames; sources/heif.py gates when the binding is
    absent)."""
    import numpy as np

    configs = isobmff_video_configs(data)
    if not configs:
        raise NotImplementedError(
            "no HEVC/AV1 video track to route through libheif"
        )
    from hortacloud_importer_spark.sources.heif import (
        decode_heif,
        load_libheif,
    )

    if load_libheif() is None:
        raise NotImplementedError(
            "HEVC/AV1 sample decode needs the libheif codec binding"
        )
    track = next(iter(configs))
    fourcc, w, h, cfg = configs[track]
    cfg_tag, brand = _VIDEO_CONFIG_TAGS[fourcc]
    # HEIF item type: hvc1 for any HEVC flavor, av01 for AV1
    item_type = b"hvc1" if cfg_tag == b"hvcC" else b"av01"
    idx = [
        r for r in isobmff_frame_index(data)
        if r[0] == track and r[7]  # sync samples only
    ]
    if not idx:
        raise IsobmffParseError("video track has no sync samples")
    frames = []
    shape = None
    total = 0
    for (_tid, _si, off, sz, _dts, _dur, _ts, _sync) in idx:
        still = wrap_sample_as_heif(
            cfg, item_type, brand, w, h, data[off : off + sz],
        )
        arr = decode_heif(still)
        if shape is None:
            shape = arr.shape
        elif arr.shape != shape:
            raise IsobmffParseError(
                f"frame size changes mid-track: {arr.shape} vs {shape}"
            )
        total += arr.size
        if total > 1 << 28:
            raise IsobmffParseError(
                f"{len(idx)} sync frames of {shape} exceed the "
                "full-decode guard; use the frame index to range-read "
                "a subset"
            )
        frames.append(arr)
    return np.stack(frames)


def heif_primary_item_payload(data: bytes) -> tuple:
    """-> (item_type 4CC, raw decoder config box, w, h, item bytes)
    for a HEIF/AVIF still's first CODED (hvc1/av01) item — libheif
    often wraps the primary image in a 1x1 ``grid`` item that merely
    references the coded tile via iref/dimg, so the coded item is the
    one whose bytes an MP4 video-track fixture wants. The inverse of
    :func:`wrap_sample_as_heif` (used by build_video_mp4 fixtures)."""
    boxes = isobmff_boxes(data)
    # first coded item from iinf/infe (iinf is a counted full box —
    # its infe children follow the entry count, so walk them inline)
    item_type = item_id = None
    iinf = next(((a, b) for p, a, b in boxes if p[-1] == b"iinf"), None)
    if iinf is None:
        raise IsobmffParseError("no iinf box")
    a, b = iinf
    iver = _u(data, a, 1)
    pos = a + 4
    n_items = _u(data, pos, 2 if iver == 0 else 4)
    pos += 2 if iver == 0 else 4
    for _ in range(n_items):
        if pos + 8 > b:
            raise IsobmffParseError("iinf shorter than its entry count")
        isize = _u(data, pos, 4)
        if isize < 8 or pos + isize > b or data[pos + 4 : pos + 8] != b"infe":
            raise IsobmffParseError("malformed infe entry")
        ever = _u(data, pos + 8, 1)
        if ever >= 2:
            iid = _u(data, pos + 12, 2 if ever == 2 else 4)
            off = pos + 12 + (2 if ever == 2 else 4) + 2
            if data[off : off + 4] in (b"hvc1", b"av01"):
                item_type = data[off : off + 4]
                item_id = iid
                break
        pos += isize
    if item_type is None:
        raise IsobmffParseError("no hvc1/av01 coded item in iinf")
    # config box + dims from the associated ipco properties
    children = [
        (p[-1], a, b)
        for p, a, b in boxes
        if len(p) >= 2 and p[-2] == b"ipco"
    ]
    ipma = next(((a, b) for p, a, b in boxes if p[-1] == b"ipma"), None)
    if ipma is None:
        raise IsobmffParseError("no ipma box")
    cfg = None
    w = h = 0
    for idx in _ipma_assocs(data, ipma, item_id):
        if idx >= len(children):
            raise IsobmffParseError("ipma names a missing property")
        tag, a, b = children[idx]
        if tag in (b"hvcC", b"av1C"):
            cfg = struct.pack(">I", (b - a) + 8) + tag + data[a:b]
        elif tag == b"ispe":
            w, h = _u(data, a + 4, 4), _u(data, a + 8, 4)
    if cfg is None:
        raise IsobmffParseError("primary item has no hvcC/av1C config")
    # item bytes from iloc
    iloc = next(((a, b) for p, a, b in boxes if p[-1] == b"iloc"), None)
    if iloc is None:
        raise IsobmffParseError("no iloc box")
    a, b = iloc
    lver = _u(data, a, 1)
    pos = a + 4
    sizes = _u(data, pos, 2)
    pos += 2
    offset_size = sizes >> 12
    length_size = (sizes >> 8) & 0xF
    base_size = (sizes >> 4) & 0xF
    index_size = sizes & 0xF if lver in (1, 2) else 0
    count = _u(data, pos, 2 if lver < 2 else 4)
    pos += 2 if lver < 2 else 4
    for _ in range(count):
        iid = _u(data, pos, 2 if lver < 2 else 4)
        pos += 2 if lver < 2 else 4
        method = 0
        if lver in (1, 2):
            method = _u(data, pos, 2) & 0xF
            pos += 2
        pos += 2  # data_reference_index
        base = _u(data, pos, base_size)
        pos += base_size
        n_ext = _u(data, pos, 2)
        pos += 2
        extents = []
        for _ in range(n_ext):
            pos += index_size
            off = _u(data, pos, offset_size)
            pos += offset_size
            ln = _u(data, pos, length_size)
            pos += length_size
            extents.append((base + off, ln))
        if iid == item_id:
            if method != 0:
                raise IsobmffParseError(
                    f"iloc construction method {method} unsupported"
                )
            payload = b"".join(data[o : o + n] for o, n in extents)
            if sum(n for _, n in extents) != len(payload):
                raise IsobmffParseError("iloc extent overruns the file")
            return item_type, cfg, w, h, payload
    raise IsobmffParseError(f"iloc lacks an entry for item {item_id}")
