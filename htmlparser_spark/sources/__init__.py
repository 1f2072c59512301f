from .cdx import read_cdx, surt_key, synth_cdx, write_cdx  # noqa: F401
from .charset import (  # noqa: F401
    decode_bytes, decoded_text, sniff_encoding, with_sniffed_encoding,
)
from .jsonl import read_jsonl, write_jsonl  # noqa: F401
from .warc import (  # noqa: F401
    read_warc, read_warc_ranged, read_wet, synth_warc, write_warc,
    write_warc_members, write_wet,
)
