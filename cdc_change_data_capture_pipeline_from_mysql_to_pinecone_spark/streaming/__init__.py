from .pipeline import cdc_tick, commit_tick, embed_text

__all__ = ["cdc_tick", "commit_tick", "embed_text"]
