package graft.kernel

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import graft.io.Commit

/** Model checkpoint sink (SURVEY.md §2.33) — the engine-side counterpart
  * of the reference's per-epoch `torch.save` + best/resume bookkeeping
  * (`sem_eval_model.py` checkpoint_dir handling): one artifact file per
  * epoch in [[ArtifactKernel]]'s versioned binary format, plus a
  * `MANIFEST` naming the latest epoch. Both are published through
  * [[Commit]], the manifest LAST, so a crash between files never yields a
  * manifest that points at a missing or half-written artifact, and
  * re-saving an epoch the manifest already names (retrain/resume) never
  * truncates the committed artifact in place. */
object KernelCheckpoint {

  private def artifactName(epoch: Int) = f"kernel_epoch_$epoch%05d.bin"

  /** Write the epoch's artifact, then commit it in the manifest. */
  def save(k: ArtifactKernel, dir: Path, epoch: Int): Path = {
    val art = Commit.write(dir.resolve(artifactName(epoch)))(ArtifactKernel.write(k, _))
    Commit.writeString(dir.resolve("MANIFEST"), s"$epoch\n${artifactName(epoch)}\n")
    art
  }

  /** Resume: latest committed epoch and its kernel, None when no
    * checkpoint was ever committed. A short or empty manifest (which the
    * atomic commit ordering should make impossible, but disk corruption
    * can still produce) reads as "no checkpoint" rather than a crash. */
  def loadLatest(dir: Path): Option[(Int, ArtifactKernel)] = {
    val manifest = dir.resolve("MANIFEST")
    if (!Files.exists(manifest)) return None
    val lines = Files.readString(manifest, StandardCharsets.UTF_8).linesIterator.toSeq
    if (lines.length < 2 || !lines.head.trim.matches("-?\\d+")) return None
    val epoch = lines.head.trim.toInt
    // a manifest naming a missing/truncated artifact is corruption too —
    // it must read as "no checkpoint", not throw from the binary parser
    try Some((epoch, ArtifactKernel.load(dir.resolve(lines(1).trim))))
    catch { case scala.util.control.NonFatal(_) => None }
  }
}
