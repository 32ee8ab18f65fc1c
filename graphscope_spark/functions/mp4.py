"""Real MP4 (ISO Base Media File Format) demuxing in pure struct/numpy.

The last multimodal gap: MP4. Full H.264/AAC *decoding* is out of scope
(a video entropy decoder is not reasonably re-implementable without
ffmpeg), but that is not what a frame-sampling data pipeline does — it
DEMUXES: walks the box tree, resolves the sample tables, and extracts
per-sample byte ranges (ffmpeg's own frame extractor walks exactly these
tables before any codec runs). That layer is fully specified in
ISO/IEC 14496-12 and implemented here for real:

- **box tree walk**: 32-bit size + fourcc, the ``size == 1`` 64-bit
  largesize form (used by the synthetic ``mdat`` for even ids), unknown
  boxes (``free``, ``udta`` junk) skipped by declared size, container
  boxes (``moov``/``trak``/``mdia``/``minf``/``stbl``) recursed.
- **track selection by handler**: files carry BOTH a ``vide`` and a
  ``soun`` track whose chunks interleave inside ``mdat`` — demuxers that
  assume one track or contiguous media fail the value oracle.
- **sample tables**: ``stsc`` run-length sample-to-chunk expansion
  (multi-entry, with a tail run and a short final chunk that needs its
  own entry), ``stsz`` both forms (per-sample table for video; the
  constant ``sample_size != 0`` form for audio), ``stco`` 32-bit and
  ``co64`` 64-bit chunk offsets (odd ids use co64), ``stts`` decode
  timestamps (two-run table → non-uniform frame durations), ``stss``
  sync samples (keyframes = every 3rd sample; a missing ``stss`` means
  all-keyframes per spec — exercised by the audio track).
- **geometry**: ``tkhd`` 16.16 fixed-point width/height, ``mdhd``
  timescale.

The synthesizer writes real files whose sample bytes are a pure function
of (media_id, sample_no, byte_index), so the DuckDB oracle recomputes
every extracted byte range in closed form — if the demuxer mis-walks any
table (chunk offsets, run-length stsc, interleaving) the sums diverge.

Reference parity: GraphScope loaders treat media as opaque vineyard
blobs and delegate demux/decode to user apps; here demux is a
first-class Arrow ``mapInPandas`` stage (SURVEY.md LLM-pipeline
multimodal row), alongside the BMP/WAV/PNG/GIF/JPEG decoders in
:mod:`~.codecs` / :mod:`~.codecs_av`.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from graphscope_spark.functions.codecs import truncation_guard

# ---------------------------------------------------------------------------
# deterministic synthetic content (mirrored by the SQL oracle)
# ---------------------------------------------------------------------------


def mp4_params(media_id: int) -> dict:
    return {
        "n_video": media_id % 7 + 3,              # 3..9 video samples
        "n_audio": 4,
        "width": (media_id % 5 + 1) * 16,
        "height": (media_id % 4 + 1) * 16,
        "co64": media_id % 2 == 1,                # odd ids: 64-bit offsets
        "largesize": media_id % 2 == 0,           # even ids: largesize mdat
    }


def video_sample_size(media_id: int, i: int) -> int:
    return (media_id + 17 * i) % 40 + 8


def video_sample_bytes(media_id: int, i: int) -> bytes:
    n = video_sample_size(media_id, i)
    return bytes((media_id * 7 + 13 * i + j) % 256 for j in range(n))


def audio_sample_bytes(media_id: int, i: int) -> bytes:
    return bytes((media_id * 3 + 5 * i + j) % 256 for j in range(6))


def video_dts(i: int) -> int:
    """stts is the two-run table [(min(n,2), 100), (rest, 40)]:
    dts_i = 100·min(i,2) + 40·max(i−2, 0)."""
    return 100 * min(i, 2) + 40 * max(i - 2, 0)


def _video_chunk_sizes(n: int) -> list:
    """Chunk layout: first chunk 2 samples, then runs of 3, with a short
    final chunk when n−2 is not a multiple of 3 — forces a multi-entry
    run-length stsc including a distinct last entry."""
    sizes = [min(2, n)]
    left = n - sizes[0]
    while left > 0:
        sizes.append(min(3, left))
        left -= sizes[-1]
    return sizes


# ---------------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------------


def _box(fourcc: bytes, payload: bytes) -> bytes:
    return struct.pack(">I4s", 8 + len(payload), fourcc) + payload


def _full(fourcc: bytes, version: int, flags: int, payload: bytes) -> bytes:
    return _box(fourcc, struct.pack(">B3s", version,
                                    flags.to_bytes(3, "big")) + payload)


def _stsc_entries(chunk_sizes: list) -> list:
    """Run-length encode samples-per-chunk: one entry per change."""
    entries = []
    for ci, spc in enumerate(chunk_sizes, start=1):
        if not entries or entries[-1][1] != spc:
            entries.append((ci, spc))
    return entries


def _stbl(sample_sizes, chunk_sizes, chunk_offsets, stts_runs,
          keyframes, co64: bool, sample_entry_fourcc: bytes,
          const_size: int = 0, width: int = 0, height: int = 0) -> bytes:
    if sample_entry_fourcc in (b"rawv", b"jpeg"):
        # minimal VisualSampleEntry (78 bytes after the 8-byte header)
        se = (bytes(6) + struct.pack(">H", 1) + bytes(16)
              + struct.pack(">HH", width, height)
              + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
              + struct.pack(">I", 0) + struct.pack(">H", 1)
              + bytes(32) + struct.pack(">Hh", 24, -1))
    else:
        # minimal AudioSampleEntry
        se = (bytes(6) + struct.pack(">H", 1) + bytes(8)
              + struct.pack(">HHI", 1, 16, 0)
              + struct.pack(">I", 8000 << 16))
    stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1)
                 + _box(sample_entry_fourcc, se))
    stts = _full(b"stts", 0, 0, struct.pack(">I", len(stts_runs))
                 + b"".join(struct.pack(">II", c, d) for c, d in stts_runs))
    entries = _stsc_entries(chunk_sizes)
    stsc = _full(b"stsc", 0, 0, struct.pack(">I", len(entries))
                 + b"".join(struct.pack(">III", fc, spc, 1)
                            for fc, spc in entries))
    if const_size:
        stsz = _full(b"stsz", 0, 0,
                     struct.pack(">II", const_size, len(sample_sizes)))
    else:
        stsz = _full(b"stsz", 0, 0,
                     struct.pack(">II", 0, len(sample_sizes))
                     + b"".join(struct.pack(">I", s) for s in sample_sizes))
    if co64:
        stco = _full(b"co64", 0, 0, struct.pack(">I", len(chunk_offsets))
                     + b"".join(struct.pack(">Q", o) for o in chunk_offsets))
    else:
        stco = _full(b"stco", 0, 0, struct.pack(">I", len(chunk_offsets))
                     + b"".join(struct.pack(">I", o) for o in chunk_offsets))
    boxes = stsd + stts + stsc + stsz + stco
    if keyframes is not None:
        boxes += _full(b"stss", 0, 0, struct.pack(">I", len(keyframes))
                       + b"".join(struct.pack(">I", k) for k in keyframes))
    return _box(b"stbl", boxes)


def _trak(track_id: int, handler: bytes, stbl: bytes, width: int,
          height: int, timescale: int, duration: int) -> bytes:
    tkhd = _full(b"tkhd", 0, 7, struct.pack(
        ">IIII", 0, 0, track_id, 0) + struct.pack(">I", duration)
        + bytes(8) + struct.pack(">hhhh", 0, 0, 0, 0)
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", width << 16, height << 16))   # 16.16 fixed
    mdhd = _full(b"mdhd", 0, 0, struct.pack(
        ">IIIIHH", 0, 0, timescale, duration, 0x55C4, 0))
    hdlr = _full(b"hdlr", 0, 0, struct.pack(">I4s", 0, handler)
                 + bytes(12) + b"demux\x00")
    mhd = (_full(b"vmhd", 0, 1, bytes(8)) if handler == b"vide"
           else _full(b"smhd", 0, 0, bytes(4)))
    dref = _full(b"dref", 0, 0, struct.pack(">I", 1)
                 + _full(b"url ", 0, 1, b""))
    minf = _box(b"minf", mhd + _box(b"dinf", dref) + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    return _box(b"trak", tkhd + mdia)


def encode_mp4(media_id: int) -> bytes:
    """A real two-track MP4: ftyp, mdat (largesize form for even ids)
    holding INTERLEAVED video/audio chunks, then moov with both traks, a
    junk ``free`` box and a ``udta`` box the walker must skip. Chunk
    offsets in stco/co64 are absolute file offsets into mdat."""
    p = mp4_params(media_id)
    nv, na = p["n_video"], p["n_audio"]
    v_sizes = [video_sample_size(media_id, i) for i in range(nv)]
    v_payloads = [video_sample_bytes(media_id, i) for i in range(nv)]
    a_payloads = [audio_sample_bytes(media_id, i) for i in range(na)]
    v_chunks = _video_chunk_sizes(nv)
    # interleave: v_chunk0, audio chunk (all 4), v_chunk1, v_chunk2, ...
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"isommp42")
    mdat_hdr_len = 16 if p["largesize"] else 8
    base = len(ftyp) + mdat_hdr_len
    media = bytearray()
    v_offsets = []
    a_offsets = []
    si = 0
    for ci, spc in enumerate(v_chunks):
        if ci == 1:                               # audio chunk interleaved
            a_offsets.append(base + len(media))
            for ap in a_payloads:
                media += ap
        v_offsets.append(base + len(media))
        for _ in range(spc):
            media += v_payloads[si]
            si += 1
    if not a_offsets:                             # single video chunk file
        a_offsets.append(base + len(media))
        for ap in a_payloads:
            media += ap
    if p["largesize"]:
        mdat = struct.pack(">I4sQ", 1, b"mdat", 16 + len(media)) + media
    else:
        mdat = _box(b"mdat", bytes(media))
    v_duration = video_dts(nv - 1) + (40 if nv > 2 else 100)
    v_stts = [(min(nv, 2), 100)] + ([(nv - 2, 40)] if nv > 2 else [])
    v_stbl = _stbl(v_sizes, v_chunks, v_offsets, v_stts,
                   [k + 1 for k in range(0, nv, 3)], p["co64"], b"rawv",
                   width=p["width"], height=p["height"])
    a_stbl = _stbl([6] * na, [na], a_offsets, [(na, 1024)], None,
                   False, b"rawa", const_size=6)
    mvhd = _full(b"mvhd", 0, 0, struct.pack(
        ">IIII", 0, 0, 1000, v_duration) + struct.pack(">I", 0x00010000)
        + struct.pack(">H", 0x0100) + bytes(10)
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + bytes(24) + struct.pack(">I", 3))
    moov = _box(b"moov", mvhd
                + _box(b"free", b"skip me entirely")
                + _trak(1, b"vide", v_stbl, p["width"], p["height"],
                        1000, v_duration)
                + _trak(2, b"soun", a_stbl, 0, 0, 8000, na * 1024)
                + _box(b"udta", _box(b"junk", b"\x00\xff" * 9)))
    return bytes(ftyp + mdat + moov)


def encode_fmp4(media_id: int) -> bytes:
    """The FRAGMENTED form of the same synthetic video track (DASH/CMAF
    shape): ftyp, an init ``moov`` whose stbl tables are empty (per
    spec) plus ``mvex/trex`` defaults, then one ``moof``+``mdat`` pair
    per 2 samples. Deliberately exercises both addressing modes (even
    fragments: default-base-is-moof + trun data_offset; odd fragments:
    explicit 64-bit tfhd base_data_offset and no data_offset), tfhd
    default_sample_duration (fragments after the first carry no
    per-sample durations — the 40-tick default applies, reproducing the
    flat layout's two-run stts), per-sample trun sizes and flags
    (non-sync except every 3rd global sample), and v1 ``tfdt`` decode
    times. Sample bytes/dts/keyframes are IDENTICAL to
    :func:`encode_mp4`'s video track, so the same closed-form oracle
    applies."""
    p = mp4_params(media_id)
    nv = p["n_video"]
    payloads = [video_sample_bytes(media_id, i) for i in range(nv)]
    ftyp = _box(b"ftyp", b"iso5" + struct.pack(">I", 0) + b"iso5mp42")
    empty_stbl = _stbl([], [], [], [], None, False, b"rawv",
                       width=p["width"], height=p["height"])
    v_duration = video_dts(nv - 1) + (40 if nv > 2 else 100)
    trex = _full(b"trex", 0, 0, struct.pack(">IIIII", 1, 1, 40, 0,
                                            _NON_SYNC))
    mvhd = _full(b"mvhd", 0, 0, struct.pack(
        ">IIII", 0, 0, 1000, v_duration) + struct.pack(">I", 0x00010000)
        + struct.pack(">H", 0x0100) + bytes(10)
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + bytes(24) + struct.pack(">I", 2))
    moov = _box(b"moov", mvhd
                + _trak(1, b"vide", empty_stbl, p["width"], p["height"],
                        1000, v_duration)
                + _box(b"mvex", trex))
    out = bytearray(ftyp + moov)
    frag_no = 0
    i = 0
    while i < nv:
        group = payloads[i:i + 2]
        idxs = list(range(i, i + len(group)))
        explicit_base = frag_no % 2 == 1
        tfhd_flags = 0x020000                     # default-base-is-moof
        tfhd_body = struct.pack(">I", 1)          # track_id
        if explicit_base:
            tfhd_flags = 0x01 | 0x08              # base offset + def dur
            # base_data_offset patched below once the moof size is known
            tfhd_body += struct.pack(">Q", 0)
            tfhd_body += struct.pack(">I", 40)
        elif i > 0:
            tfhd_flags |= 0x08
            tfhd_body += struct.pack(">I", 40)
        tfdt = _full(b"tfdt", 1, 0, struct.pack(">Q", video_dts(i)))
        trun_flags = 0x200 | 0x400                # sizes + flags
        if i == 0:
            trun_flags |= 0x100                   # per-sample durations
        if not explicit_base:
            trun_flags |= 0x01                    # data_offset
        entries = b""
        for k, s in zip(idxs, group):
            if trun_flags & 0x100:
                entries += struct.pack(">I", 100)
            entries += struct.pack(">I", len(s))
            entries += struct.pack(">I", 0 if k % 3 == 0 else _NON_SYNC)
        trun_body = struct.pack(">I", len(group))
        if trun_flags & 0x01:
            trun_body += struct.pack(">i", 0)     # patched below
        trun_body += entries
        trun = _full(b"trun", 0, trun_flags, trun_body)
        traf = _box(b"traf", _full(b"tfhd", 0, tfhd_flags, tfhd_body)
                    + tfdt + trun)
        mfhd = _full(b"mfhd", 0, 0, struct.pack(">I", frag_no + 1))
        moof = bytearray(_box(b"moof", mfhd + traf))
        moof_start = len(out)
        mdat_payload_at = moof_start + len(moof) + 8
        if explicit_base:
            at = bytes(moof).index(b"tfhd") + 12
            moof[at:at + 8] = struct.pack(">Q", mdat_payload_at)
        else:
            at = bytes(moof).index(b"trun") + 12
            moof[at:at + 4] = struct.pack(">i", len(moof) + 8)
        out += moof
        out += _box(b"mdat", b"".join(group))
        frag_no += 1
        i += len(group)
    return bytes(out)


# ---------------------------------------------------------------------------
# demuxer
# ---------------------------------------------------------------------------


def _walk_boxes(payload: bytes, start: int, end: int):
    """Yield (fourcc, body_start, body_end) handling 32-bit and
    largesize (size == 1) forms; size 0 = to-end-of-enclosing-box."""
    pos = start
    while pos + 8 <= end:
        size, fourcc = struct.unpack_from(">I4s", payload, pos)
        body = pos + 8
        if size == 1:
            (size,) = struct.unpack_from(">Q", payload, pos + 8)
            body = pos + 16
        elif size == 0:
            size = end - pos
        if size < body - pos or pos + size > end:
            raise ValueError(f"bad box size {size} for {fourcc!r} at {pos}")
        yield fourcc, body, pos + size
        pos += size


def _find(payload, start, end, fourcc):
    for fc, b, e in _walk_boxes(payload, start, end):
        if fc == fourcc:
            return b, e
    return None


def _check_count(n: int, payload: bytes, what: str) -> None:
    """A corrupted entry count makes struct compile a multi-million-field
    format string (seconds of CPU) before failing — bound it against the
    file size first (found by bit-flip fuzzing)."""
    if n * 4 > len(payload):
        raise ValueError(f"implausible {what} entry count {n}")


def _parse_stbl(payload: bytes, start: int, end: int) -> dict:
    out: dict = {}
    for fc, b, e in _walk_boxes(payload, start, end):
        if fc == b"stts":
            (n,) = struct.unpack_from(">I", payload, b + 4)
            out["stts"] = [struct.unpack_from(">II", payload, b + 8 + 8 * i)
                           for i in range(n)]
        elif fc == b"stsc":
            (n,) = struct.unpack_from(">I", payload, b + 4)
            out["stsc"] = [struct.unpack_from(">III", payload, b + 8 + 12 * i)
                           for i in range(n)]
        elif fc == b"stsz":
            const, n = struct.unpack_from(">II", payload, b + 4)
            _check_count(n, payload, "stsz")
            if const:
                out["sizes"] = [const] * n
            else:
                out["sizes"] = list(struct.unpack_from(f">{n}I", payload,
                                                       b + 12))
        elif fc == b"stco":
            (n,) = struct.unpack_from(">I", payload, b + 4)
            _check_count(n, payload, "stco")
            out["offsets"] = list(struct.unpack_from(f">{n}I", payload,
                                                     b + 8))
        elif fc == b"co64":
            (n,) = struct.unpack_from(">I", payload, b + 4)
            _check_count(n, payload, "co64")
            out["offsets"] = list(struct.unpack_from(f">{n}Q", payload,
                                                     b + 8))
        elif fc == b"stss":
            (n,) = struct.unpack_from(">I", payload, b + 4)
            _check_count(n, payload, "stss")
            out["sync"] = set(struct.unpack_from(f">{n}I", payload, b + 8))
        elif fc == b"stsd":
            (n,) = struct.unpack_from(">I", payload, b + 4)
            if n:
                out["codec"] = payload[b + 12:b + 16].decode("latin1")
    return out


def _expand_stsc(stsc: list, n_chunks: int) -> list:
    """Run-length sample-to-chunk → samples-per-chunk per chunk index.
    Entry (first_chunk, spc, _) applies from first_chunk (1-based) until
    the next entry's first_chunk − 1; the last entry runs to the end."""
    spc = []
    prev_first = 0
    for idx, (first, count, _desc) in enumerate(stsc):
        # corrupted first_chunk values make (last - first + 1) explode
        # into a multi-billion-element list (bit-flip fuzz finding):
        # entries must be strictly ascending within [1, n_chunks]
        if first <= prev_first or first > n_chunks:
            raise ValueError(
                f"stsc entry {idx}: first_chunk {first} out of order "
                f"or beyond {n_chunks} chunks")
        prev_first = first
        # clamp: the NEXT entry's first_chunk is validated only on the
        # next iteration, so a corrupted value must not inflate this run
        last = min(stsc[idx + 1][0] - 1 if idx + 1 < len(stsc)
                   else n_chunks, n_chunks)
        spc.extend([count] * max(0, last - first + 1))
    if len(spc) != n_chunks:
        raise ValueError(f"stsc expands to {len(spc)} chunks, "
                         f"file has {n_chunks}")
    return spc


def _parse_trex(payload: bytes, moov) -> dict:
    """mvex/trex defaults per track_id: {tid: (duration, size, flags)}."""
    mvex = _find(payload, *moov, b"mvex")
    out = {}
    if mvex is None:
        return out
    for fc, b, e in _walk_boxes(payload, *mvex):
        if fc == b"trex":
            tid, _sdi, dur, size, flags = struct.unpack_from(
                ">IIIII", payload, b + 4)
            out[tid] = (dur, size, flags)
    return out


_NON_SYNC = 0x00010000                            # sample_is_non_sync_sample


def _parse_fragments(payload: bytes, track_id: int,
                     trex: tuple) -> list:
    """The fMP4 (DASH/CMAF) path: walk every top-level ``moof``, find
    this track's ``traf``, honor tfhd flags (base-data-offset,
    sample-description-index, default duration/size/flags,
    default-base-is-moof), ``tfdt`` decode times (v0/v1), and every
    ``trun``'s per-sample entries (data-offset, first-sample-flags,
    per-sample duration/size/flags/cts as declared). Both addressing
    modes — explicit 64-bit base_data_offset and default-base-is-moof —
    are resolved to absolute file offsets."""
    samples = []
    dts = 0
    for fc, mb, me in _walk_boxes(payload, 0, len(payload)):
        if fc != b"moof":
            continue
        moof_start = mb - 8
        for tf, tb, te in _walk_boxes(payload, mb, me):
            if tf != b"traf":
                continue
            tfhd = _find(payload, tb, te, b"tfhd")
            if tfhd is None:
                raise ValueError("traf without tfhd")
            flags = int.from_bytes(payload[tfhd[0] + 1:tfhd[0] + 4], "big")
            pos = tfhd[0] + 4
            (tid,) = struct.unpack_from(">I", payload, pos)
            pos += 4
            if tid != track_id:
                continue
            base_off = None
            if flags & 0x01:                      # base-data-offset
                (base_off,) = struct.unpack_from(">Q", payload, pos)
                pos += 8
            if flags & 0x02:                      # sample-description-idx
                pos += 4
            def_dur, def_size, def_flags = trex
            if flags & 0x08:
                (def_dur,) = struct.unpack_from(">I", payload, pos)
                pos += 4
            if flags & 0x10:
                (def_size,) = struct.unpack_from(">I", payload, pos)
                pos += 4
            if flags & 0x20:
                (def_flags,) = struct.unpack_from(">I", payload, pos)
                pos += 4
            tfdt = _find(payload, tb, te, b"tfdt")
            if tfdt:
                ver = payload[tfdt[0]]
                dts = struct.unpack_from(
                    ">Q" if ver else ">I", payload, tfdt[0] + 4)[0]
            for tr, rb, re_ in _walk_boxes(payload, tb, te):
                if tr != b"trun":
                    continue
                tflags = int.from_bytes(payload[rb + 1:rb + 4], "big")
                p2 = rb + 4
                (n,) = struct.unpack_from(">I", payload, p2)
                p2 += 4
                from graphscope_spark.functions.codecs import MAX_SAMPLES
                if n > MAX_SAMPLES or len(samples) + n > MAX_SAMPLES:
                    raise ValueError(f"implausible trun sample count {n}")
                data_off = 0
                if tflags & 0x01:
                    (data_off,) = struct.unpack_from(">i", payload, p2)
                    p2 += 4
                first_flags = None
                if tflags & 0x04:
                    (first_flags,) = struct.unpack_from(">I", payload, p2)
                    p2 += 4
                base = base_off if base_off is not None else moof_start
                off = base + data_off
                for i in range(n):
                    dur, size, sflags = def_dur, def_size, def_flags
                    if tflags & 0x100:
                        (dur,) = struct.unpack_from(">I", payload, p2)
                        p2 += 4
                    if tflags & 0x200:
                        (size,) = struct.unpack_from(">I", payload, p2)
                        p2 += 4
                    if tflags & 0x400:
                        (sflags,) = struct.unpack_from(">I", payload, p2)
                        p2 += 4
                    if tflags & 0x800:            # composition offset
                        p2 += 4
                    if i == 0 and first_flags is not None:
                        sflags = first_flags
                    data = payload[off:off + size]
                    if len(data) != size:
                        raise ValueError(
                            f"fragment sample {len(samples)} out of file")
                    samples.append({
                        "sample_no": len(samples), "size": size,
                        "dts": dts,
                        "is_key": not (sflags & _NON_SYNC),
                        "data": data,
                    })
                    dts += dur
                    off += size
    return samples


@truncation_guard
def demux_mp4(payload: bytes) -> dict:
    """Walk the real box tree and resolve every sample of every track to
    its absolute byte range; extract the bytes. Returns
    ``{"tracks": [{handler, track_id, width, height, timescale, codec,
    samples: [{sample_no, size, dts, is_key, data}]}]}``.

    Both layouts are supported: flat (stbl sample tables) and
    fragmented (empty stbl + mvex/trex defaults + moof/traf/trun
    fragments — the DASH/CMAF shape)."""
    if payload[4:8] != b"ftyp":
        raise ValueError("not an MP4: missing ftyp")
    moov = _find(payload, 0, len(payload), b"moov")
    if moov is None:
        raise ValueError("no moov box")
    # trex defaults are per-movie (one mvex walk covers every track) —
    # parse once here, not inside the per-trak loop (ADVICE r04).
    trex = _parse_trex(payload, moov)
    tracks = []
    for fc, tb, te in _walk_boxes(payload, *moov):
        if fc != b"trak":
            continue
        tkhd = _find(payload, tb, te, b"tkhd")
        track_id = width = height = 0
        if tkhd:
            # v0: version/flags(4) + creation(4) + modification(4) →
            # track_ID at 12; v1: 64-bit times → track_ID at 20 (the
            # word at 24 is the zero reserved field)
            ver = payload[tkhd[0]]
            track_id = struct.unpack_from(
                ">I", payload, tkhd[0] + (12 if ver == 0 else 20))[0]
            w_fixed, h_fixed = struct.unpack_from(">II", payload,
                                                  tkhd[1] - 8)
            width, height = w_fixed >> 16, h_fixed >> 16
        mdia = _find(payload, tb, te, b"mdia")
        if mdia is None:
            continue
        mdhd = _find(payload, *mdia, b"mdhd")
        timescale = 0
        if mdhd:
            ver = payload[mdhd[0]]
            timescale = struct.unpack_from(
                ">I", payload, mdhd[0] + (12 if ver == 0 else 20))[0]
        hdlr = _find(payload, *mdia, b"hdlr")
        handler = payload[hdlr[0] + 8:hdlr[0] + 12].decode("latin1") \
            if hdlr else "?"
        minf = _find(payload, *mdia, b"minf")
        stbl = _find(payload, *minf, b"stbl") if minf else None
        if stbl is None:
            continue
        t = _parse_stbl(payload, *stbl)
        missing = [k for k in ("sizes", "offsets", "stsc", "stts")
                   if k not in t]
        fragmented = (not missing
                      and not t["sizes"] and not t["offsets"]
                      and track_id in trex)
        if fragmented:
            # fMP4: empty init stbl; samples come from moof fragments
            samples = _parse_fragments(payload, track_id, trex[track_id])
            tracks.append({"handler": handler, "track_id": track_id,
                           "width": width, "height": height,
                           "timescale": timescale,
                           "codec": t.get("codec", "?"),
                           "samples": samples})
            continue
        if missing:
            raise ValueError(
                f"track {track_id}: stbl lacks {missing} and no "
                "mvex/trex fragment defaults exist — neither a flat nor "
                "a fragmented (moof/trun) layout")
        sizes, offsets = t["sizes"], t["offsets"]
        spc = _expand_stsc(t["stsc"], len(offsets))
        if sum(spc) != len(sizes):
            raise ValueError(f"stsc covers {sum(spc)} samples, "
                             f"stsz has {len(sizes)}")
        from graphscope_spark.functions.codecs import MAX_SAMPLES
        durations = []
        for count, delta in t["stts"]:
            if count > MAX_SAMPLES or len(durations) + count > MAX_SAMPLES:
                raise ValueError(f"implausible stts run count {count}")
            durations.extend([delta] * count)
        sync = t.get("sync")                      # None: all sync per spec
        samples = []
        si = 0
        dts = 0
        for chunk_off, n_in_chunk in zip(offsets, spc):
            off = chunk_off
            for _ in range(n_in_chunk):
                data = payload[off:off + sizes[si]]
                if len(data) != sizes[si]:
                    raise ValueError(f"sample {si} range out of file")
                samples.append({
                    "sample_no": si,
                    "size": sizes[si],
                    "dts": dts,
                    "is_key": sync is None or (si + 1) in sync,
                    "data": data,
                })
                dts += durations[si] if si < len(durations) else 0
                off += sizes[si]
                si += 1
        tracks.append({"handler": handler, "track_id": track_id,
                       "width": width, "height": height,
                       "timescale": timescale,
                       "codec": t.get("codec", "?"), "samples": samples})
    if not tracks:
        raise ValueError("MP4 with no usable tracks")
    return {"tracks": tracks}


# ---------------------------------------------------------------------------
# MJPEG-in-MP4: JPEG samples behind the demux (QuickTime 'jpeg' fourcc)
# ---------------------------------------------------------------------------

# only fourccs whose samples are plain baseline-JPEG interchange
# streams: QuickTime 'jpeg' and the AVID 'AVDJ' variant.  Motion-JPEG
# A/B ('mjpa'/'mjpb') carry field headers / non-interchange entropy
# data the baseline decoder cannot parse — they route to the generic
# byte-sum MP4 branch, not here.
_MJPEG_FOURCCS = ("jpeg", "AVDJ")


def mjpeg_params(media_id: int) -> dict:
    """Geometry for the MJPEG-in-MP4 stream (mirrored by the SQL
    oracle): the TRACK geometry is jpeg_params(media_id) — constant
    across frames, as real MJPEG requires — and frame f's per-MCU
    values use the frame id ``media_id + 97·f`` through the same
    jpeg_mcu_values closed form.  n_frames = media_id % 3 + 2."""
    from graphscope_spark.functions.codecs_av import jpeg_params

    return {**jpeg_params(media_id), "n_frames": media_id % 3 + 2}


def encode_mjpeg_frame(media_id: int, f: int) -> bytes:
    """One REAL baseline-JPEG frame of the MJPEG stream: the track's
    geometry (jpeg_params(media_id)) with frame f's MCU values."""
    from graphscope_spark.functions.codecs_av import encode_jpeg

    return encode_jpeg(media_id, value_id=media_id + 97 * f)


def encode_mjpeg_mp4(media_id: int) -> bytes:
    """MJPEG-in-MP4: a single video track whose samples are REAL
    baseline JPEGs behind the QuickTime ``jpeg`` sample-entry fourcc —
    the simplest real-world shape where the container demux and a real
    image codec compose (a video pipeline without ffmpeg can decode
    these frames; H.264/AAC remain the documented ffmpeg-only gap).
    Every sample is a keyframe (no stss box = all sync, the ISO BMFF
    default — exactly MJPEG's intra-only property)."""
    p = mjpeg_params(media_id)
    nf = p["n_frames"]
    w, h = p["w_mcus"] * p["mcu"], p["h_mcus"] * p["mcu"]
    frames = [encode_mjpeg_frame(media_id, f) for f in range(nf)]
    sizes = [len(b) for b in frames]
    chunks = _video_chunk_sizes(nf)
    ftyp = _box(b"ftyp", b"qt  " + struct.pack(">I", 0) + b"qt  isom")
    base = len(ftyp) + 8
    media = bytearray()
    offsets = []
    si = 0
    for spc in chunks:
        offsets.append(base + len(media))
        for _ in range(spc):
            media += frames[si]
            si += 1
    mdat = _box(b"mdat", bytes(media))
    duration = nf * 100
    stbl = _stbl(sizes, chunks, offsets, [(nf, 100)], None, False,
                 b"jpeg", width=w, height=h)
    mvhd = _full(b"mvhd", 0, 0, struct.pack(
        ">IIII", 0, 0, 1000, duration) + struct.pack(">I", 0x00010000)
        + struct.pack(">H", 0x0100) + bytes(10)
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + bytes(24) + struct.pack(">I", 2))
    moov = _box(b"moov", mvhd
                + _trak(1, b"vide", stbl, w, h, 1000, duration))
    return bytes(ftyp + mdat + moov)


@truncation_guard
def decode_mjpeg(payload: bytes, demuxed: dict = None) -> list:
    """Demux an MJPEG MP4 and REALLY decode every video sample with the
    baseline-JPEG decoder: one dict per frame with geometry, decode
    timestamp and exact plane sums.  Composes functions this module and
    codecs_av.py each verify independently — the demux hands each
    sample's exact byte range to the codec, as ffmpeg would.  Pass
    ``demuxed`` (a demux_mp4 result for the same payload) to skip the
    second container walk — the hot-path pattern decode_gif's ``raw=``
    uses."""
    from graphscope_spark.functions.codecs_av import decode_jpeg

    d = demuxed if demuxed is not None else demux_mp4(payload)
    video = next((t for t in d["tracks"] if t["handler"] == "vide"), None)
    if video is None:
        raise ValueError("MP4 with no video track")
    if video["codec"] not in _MJPEG_FOURCCS:
        raise ValueError(
            f"not an MJPEG track (codec {video['codec']!r}); only "
            f"{_MJPEG_FOURCCS} decode without ffmpeg")
    out = []
    for s in video["samples"]:
        fr = decode_jpeg(bytes(s["data"]))
        out.append({"frame_no": s["sample_no"], "dts": s["dts"],
                    "width": fr["width"], "height": fr["height"],
                    "sum_y": fr["sum_y"], "sum_cb": fr["sum_cb"],
                    "sum_cr": fr["sum_cr"]})
    return out


# ---------------------------------------------------------------------------
# DataFrame stages
# ---------------------------------------------------------------------------

MP4_FRAME_SCHEMA = ("media_id LONG, sample_no INT, size INT, dts LONG, "
                    "is_key BOOLEAN, sum_bytes LONG")


def mp4_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize one real two-track MP4 per row — distributed."""
    from graphscope_spark.functions.codecs import synth_media

    return synth_media(df, encode_mp4, id_col)


def mjpeg_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize one real MJPEG-in-MP4 per row — distributed."""
    from graphscope_spark.functions.codecs import synth_media

    return synth_media(df, encode_mjpeg_mp4, id_col)


MJPEG_FRAME_SCHEMA = ("media_id LONG, frame_no INT, dts LONG, width LONG, "
                      "height LONG, sum_y LONG, sum_cb LONG, sum_cr LONG")


def decode_mjpeg_frames(media: DataFrame) -> DataFrame:
    """REAL demux + REAL JPEG decode per video sample: one output row
    per frame with exact plane sums — shuffle-free mapInPandas, the
    same scale shape as every other codec stage."""
    import pandas as pd

    def dec(batches):
        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                for fr in decode_mjpeg(bytes(p)):
                    rows.append({"media_id": mid, **fr})
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_no", "dts", "width",
                               "height", "sum_y", "sum_cb", "sum_cr"])

    return media.select("media_id", "payload").mapInPandas(
        dec, MJPEG_FRAME_SCHEMA)


def fmp4_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize one real FRAGMENTED MP4 per row — distributed."""
    from graphscope_spark.functions.codecs import synth_media

    return synth_media(df, encode_fmp4, id_col)


def demux_mp4_frames(media: DataFrame) -> DataFrame:
    """REAL demux stage: one output row per VIDEO sample (frame), with
    its resolved size, decode timestamp, keyframe flag and exact byte
    sum — the table walk a frame-sampling pipeline runs before any
    codec."""
    def dec(batches):
        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                d = demux_mp4(bytes(p))
                # next() WITH default: a bare StopIteration inside this
                # generator would surface as an opaque RuntimeError
                # (PEP 479) from the Spark task
                video = next((t for t in d["tracks"]
                              if t["handler"] == "vide"), None)
                if video is None:
                    raise ValueError(f"media {mid}: MP4 has no video track")
                for s in video["samples"]:
                    rows.append({
                        "media_id": mid, "sample_no": s["sample_no"],
                        "size": s["size"], "dts": s["dts"],
                        "is_key": s["is_key"],
                        "sum_bytes": int(np.frombuffer(
                            s["data"], np.uint8).astype(np.int64).sum()),
                    })
            yield pd.DataFrame(
                rows, columns=["media_id", "sample_no", "size", "dts",
                               "is_key", "sum_bytes"])

    return media.select("media_id", "payload").mapInPandas(
        dec, MP4_FRAME_SCHEMA)
